package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph curation signals: host-level PageRank and anchor-text
  * aggregation over a page-level link list.
  *
  * Web-scale pretraining pipelines use link-graph centrality as a
  * document-quality prior (Common Crawl publishes host- and domain-level
  * rank tables for exactly this; "importance" filters in CCNet-descendant
  * pipelines key on them) and aggregate incoming anchor text as a cheap
  * page description for retrieval corpora. Both signals are pure
  * relational computations over the (src_host, dst_host, anchor) link
  * relation a crawl front door (WarcSource → extractMain) already
  * produces, so they belong in the engine rather than a bolt-on job.
  *
  * PageRank here is EXACT FIXED-POINT INTEGER arithmetic, not floating
  * point: ranks are longs in `scale` units ("micro-ranks" at the default
  * 1e6), every division is integer division, and every per-iteration sum
  * is a sum of longs — order-independent, so the result is bit-identical
  * across partitionings, retries, and engines. That is what makes the
  * operator oracle-able (a plain-SQL engine replays the same iterations
  * and hashes equal) and what makes reruns at 100 TB reproducible.
  */
object LinkGraph {

  /** Collapse a page-level link list into the weighted host graph:
    * one row per (src, dst) host pair with `weight` = number of links.
    * Self-loops are dropped (the standard PageRank convention — a host
    * voting for itself carries no information). One shuffle, map-side
    * partially aggregated. */
  def hostGraph(links: DataFrame, srcCol: String, dstCol: String): DataFrame =
    links
      .where(col(srcCol) =!= col(dstCol))
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(count(lit(1)).as("weight"))

  /** Weighted PageRank over `edges` (src, dst, weight) for the node set
    * `nodes(idCol)`, in exact fixed-point integer arithmetic.
    *
    * Semantics per iteration (all operations on longs, `div` = integer
    * division truncating toward zero — all quantities are non-negative,
    * so this equals floor division):
    *
    *   contrib(u→v) = (rank(u) * weight(u,v)) div outWeight(u)
    *   rank'(v)     = (scale*(dampDen-dampNum)) div dampDen
    *                  + (dampNum * Σ contrib(·→v)) div dampDen
    *
    * Contract notes:
    *  - Dangling nodes (no out-edges) contribute nothing — the "dangling
    *    mass dropped" PageRank variant (total mass decays instead of being
    *    redistributed). Rank ORDER is what curation thresholds consume,
    *    and the variant keeps every step exactly representable.
    *  - Edges whose src is not in `nodes` never contribute (no rank row
    *    to join); edges whose dst is not in `nodes` are dropped by the
    *    final left join. The node set is the contract boundary.
    *  - Overflow: ANSI mode throws rather than wrapping. Worst-case a
    *    single sink holds ~n·scale mass, so choose `scale` with
    *    n·scale·maxWeight < 2^63 headroom (the 1e6 default leaves room
    *    for ~10^6 hosts at 10^6-link weights).
    *
    * Scale shape: the edge⋈outWeight relation is computed once and
    * persisted; each iteration is one join of the (small — one row per
    * host) rank relation against it plus one groupBy(dst) with map-side
    * partial sums. Rank rounds are eagerly checkpointed so the iterative
    * plan never grows (same lineage discipline as
    * [[graft.dedup.Components]], and the same configurable mode:
    * `spark.graft.graph.checkpoint` = auto | local | reliable — reliable
    * writes rounds to the session checkpoint dir and survives executor
    * loss; auto picks it whenever a checkpoint dir is set). Because each
    * round is materialized, AQE sees its true (tiny) size and converts
    * the per-iteration join to a broadcast at runtime — the only
    * repeated shuffle is the contribution aggregation.
    *
    * Returns one row per node: (idCol, rank) with rank in `scale` units.
    */
  def pageRank(nodes: DataFrame, idCol: String, edges: DataFrame,
               iterations: Int = 3, scale: Long = 1000000L,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0,1)")
    val spark = nodes.sparkSession
    val sc = spark.sparkContext

    val mode = spark.conf.getOption("spark.graft.graph.checkpoint")
      .getOrElse("auto")
    val reliable = mode match {
      case "reliable" =>
        require(sc.getCheckpointDir.isDefined,
          "spark.graft.graph.checkpoint=reliable needs " +
            "SparkContext.setCheckpointDir (spark.checkpoint.dir) set")
        true
      case "local" => false
      case "auto"  => sc.getCheckpointDir.isDefined
      case other => throw new IllegalArgumentException(
        s"spark.graft.graph.checkpoint must be auto|local|reliable, got $other")
    }
    def round(e: DataFrame): (DataFrame, Seq[Int]) =
      if (reliable) (e.checkpoint(true), Nil)
      else graft.core.CacheHygiene.trackNewRdds(sc)(e.localCheckpoint(true))

    // checkpoint the node set ONCE: `n` appears in every round's plan (and
    // round 0), so an un-materialized distinct re-scans the node source and
    // re-runs its shuffle PER ROUND — at 100 TB that is `iterations` extra
    // passes over the host universe for an identical tiny relation
    // (measured r17: 4 redundant scan+distinct subtrees in q_host_rank's
    // job log). One row per host; freed after the last round is cut loose.
    val (n, nIds) = round(
      nodes.select(col(idCol).cast("string").as("host")).distinct())
    val ew = edges
      .select(col("src").cast("string").as("src"),
              col("dst").cast("string").as("dst"),
              col("weight").cast("long").as("weight"))
      .withColumn("ow", sum(col("weight")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val tele = (scale * (dampDen - dampNum)) / dampDen
    // The engine's AQE coalescing floor (Sessions: minPartitionSize=64k)
    // exists for compute-DENSE small shuffles — kernels with seconds of
    // CPU per MB. PageRank rounds are the opposite shape: iterative TINY
    // shuffles whose per-row work is one long multiply-add, where extra
    // post-coalesce tasks are pure scheduling overhead repeated every
    // round (round-16 verdict: q_host_rank 0.74→1.09 s under the floor).
    // The rounds execute EAGERLY here (each is checkpointed), so the
    // exemption scopes exactly to this loop and restores on exit; the
    // byte heuristic it falls back to is itself scale-adaptive, so
    // production-sized rounds are unaffected either way.
    val floorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val savedFloor = spark.conf.getOption(floorKey)
    // Bounded-round AQE bypass: AQE runs each shuffle/broadcast stage as
    // its own JOB, so one checkpointed round costs ~6 scheduled jobs —
    // pure per-round overhead when the rank relation is dim-table sized
    // (measured r17: q_host_rank = 23 jobs of 12-70 ms wall with ~40 ms
    // driver gaps between them; the data stages are trivial). When the
    // just-materialized node set is small enough that a static-partition
    // shuffle is safe on ANY cluster (`spark.graft.graph.aqeRowThreshold`,
    // default 4M hosts — a few hundred MB per round), the loop runs with
    // AQE off: one job per round. Larger graphs keep AQE (runtime
    // broadcast conversion, skew handling — the things that matter when a
    // round is NOT small). Results are partitioning-invariant either way
    // (exact integer arithmetic; the bit-determinism specs pin it).
    val aqeKey = "spark.sql.adaptive.enabled"
    val savedAqe = spark.conf.getOption(aqeKey)
    // round 0 is a literal column over the just-checkpointed `n` — narrow
    // on materialized blocks, so it needs no checkpoint job of its own
    // (rankIds Nil: freeing "round 0" must not free `n`, which every later
    // round still reads)
    var rank: DataFrame = n.withColumn("rank", lit(scale))
    var rankIds: Seq[Int] = Nil
    // every conf change sits inside the try, so the finally restores the
    // session even when the threshold parse or the count throws
    try {
      spark.conf.unset(floorKey) // back to Spark's byte-based default
      val aqeRowThreshold = spark.conf
        .getOption("spark.graft.graph.aqeRowThreshold").map(_.toLong)
        .getOrElse(4000000L)
      if (n.count() <= aqeRowThreshold) spark.conf.set(aqeKey, "false")
      for (_ <- 1 to iterations) {
        val contrib = ew
          .join(rank.withColumnRenamed("host", "src"), "src")
          .select(col("dst").as("host"),
            expr("(rank * weight) div ow").as("c"))
          .groupBy("host").agg(sum("c").as("cin"))
        val next = n.join(contrib, Seq("host"), "left").select(col("host"),
          (lit(tele) +
            expr(s"(${dampNum}L * coalesce(cin, 0L)) div ${dampDen}L")).as("rank"))
        val (ckpt, ids) = round(next)
        graft.core.CacheHygiene.freeRdds(sc, rankIds)
        rank = ckpt; rankIds = ids
      }
    } finally {
      savedFloor.foreach(spark.conf.set(floorKey, _))
      savedAqe match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None    => spark.conf.unset(aqeKey)
      }
    }
    ew.unpersist(blocking = false)
    // every round (including the final one) is checkpointed, so `n`'s
    // blocks have no live reader left
    graft.core.CacheHygiene.freeRdds(sc, nIds)
    // the FINAL round's blocks are deliberately not freed: the returned
    // plan reads them, and a freed localCheckpoint cannot recompute (same
    // policy as Components — superseded rounds were freed eagerly above,
    // the live one is one row per host and reclaimed by the ContextCleaner
    // once the caller drops the DataFrame)
    rank.select(col("host").as(idCol), col("rank"))
  }

  /** Incoming-anchor-text aggregation: for each target host/page, the total
    * in-link count, the number of distinct anchor strings, and the distinct
    * anchors themselves, sorted and space-joined — the classic anchor-text
    * document surrogate for retrieval corpora. Deterministic (sorted, not
    * arrival-ordered) so the output is stable under repartitioning. One
    * shuffle; collect_set is bounded by the distinct-anchor count per
    * target, which real pipelines cap upstream (anchors are short strings
    * deduplicated per target). */
  def anchorText(links: DataFrame, dstCol: String, anchorCol: String): DataFrame =
    links.groupBy(col(dstCol).as("dst")).agg(
      count(lit(1)).as("n_links"),
      countDistinct(col(anchorCol)).as("n_anchors"),
      array_join(array_sort(collect_set(col(anchorCol))), " ").as("anchor_text"))
}
