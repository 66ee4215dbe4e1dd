package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.CacheHygiene

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
    *  - SQL null semantics: a null node id stays a node (it gets the
    *    teleport rank); an edge with a null src, dst or weight contributes
    *    nothing, and a null weight does not count toward its src's
    *    out-weight.
    *  - Overflow throws rather than wrapping (`Math.multiplyExact` /
    *    `addExact`, as ANSI SQL), and so does division by a zero
    *    out-weight. Worst-case a single sink holds ~n·scale mass, so choose
    *    `scale` with n·scale·maxWeight < 2^63 headroom (the 1e6 default
    *    leaves room for ~10^6 hosts at 10^6-link weights).
    *
    * Round shape (the classic RDD PageRank): the node set and the edges,
    * grouped by src with their out-weight, are hash-partitioned once by
    * one `HashPartitioner` (the session's shuffle-partition count), and
    * the adjacency is persisted. Each round joins the ranks with the
    * adjacency on that partitioner, which is a narrow join; `reduceByKey`
    * of the contributions is the round's only shuffle, and their left join
    * to the node set is narrow again. The rounds run outside adaptive
    * execution and set no session conf; the lineage is `iterations`
    * shuffles deep, so a lost block recomputes without a checkpoint.
    * The rounds are lazy: they run in the first job that consumes the
    * result, which also releases the persisted adjacency. Only the input
    * frames' own exchanges (a `distinct` node set, a grouped edge list)
    * run when this is called, as taking the RDD of an adaptive plan does.
    *
    * Returns one row per node: (idCol, rank) with rank in `scale` units.
    */
  def pageRank(nodes: DataFrame, idCol: String, edges: DataFrame,
               iterations: Int = 3, scale: Long = 1000000L,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0,1)")
    val spark = nodes.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)

    val n = nodes.select(col(idCol).cast("string")).rdd
      .map(r => (r.getString(0), ()))
      .reduceByKey(part, (a, _) => a)
    // src -> its out-edges (dst, weight) and its out-weight; a null-dst
    // edge counts toward the out-weight but has no target
    val adj = edges
      .select(col("src").cast("string"), col("dst").cast("string"),
              col("weight").cast("long"))
      .where(col("src").isNotNull && col("weight").isNotNull)
      .rdd.map(r => (r.getString(0), (r.getString(1), r.getLong(2))))
      .groupByKey(part)
      .mapValues { out =>
        val ow = out.foldLeft(0L)((s, e) => Math.addExact(s, e._2))
        (out.filter(_._1 != null).toArray, ow)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)

    val tele = (scale * (dampDen - dampNum)) / dampDen
    var rank = n.mapValues(_ => scale)
    for (_ <- 1 to iterations) {
      val cin = adj.join(rank, part).values
        .flatMap { case ((out, ow), r) =>
          out.iterator.map { case (dst, w) => (dst, Math.multiplyExact(r, w) / ow) } }
        .reduceByKey(part, Math.addExact(_: Long, _: Long))
      rank = n.leftOuterJoin(cin, part).mapValues { case (_, c) =>
        Math.addExact(tele, Math.multiplyExact(dampNum, c.getOrElse(0L)) / dampDen) }
    }
    CacheHygiene.releaseAfterFirstJob(spark.sparkContext, adj)(adj.unpersist(blocking = false))
    spark.createDataFrame(rank.map { case (h, r) => Row(h, r) },
      StructType(Seq(StructField(idCol, StringType), StructField("rank", LongType, nullable = false))))
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
