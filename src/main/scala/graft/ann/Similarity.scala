package graft.ann

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.functions.{cosine_similarity, CosineSimilarity, Hash64}
import org.apache.spark.unsafe.types.UTF8String

/** Similarity search over an embedding column (`ArrayType(FloatType)`).
  *
  * `topKBrute` is the exact baseline: broadcast the (small) query set, scan
  * the item table once, window top-k — one shuffle keyed by query id, scales
  * linearly in items. `topKLsh` is the 100 TB path: random-hyperplane LSH
  * buckets both sides, only bucket-colliding pairs are scored; recall is
  * tunable via tables × bits.
  */
object Similarity {

  /** Null-last Comparable ordering over dynamically-typed id values —
    * shared by the bounded-heap scan paths here and in [[PqIndex]]. */
  private[ann] def cmpAny(a: Any, b: Any): Int =
    if (a == null && b == null) 0
    else if (a == null) 1
    else if (b == null) -1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Numeric-widening id equality, matching a Column `=!=` filter's cast
    * semantics (Long query id vs Int item id must still exclude the self
    * pair, and must NOT throw like a raw Comparable.compareTo would). */
  private[ann] def sameId(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Double, y: Number) => x.doubleValue == y.doubleValue
    case (x: java.lang.Float, y: Number)  => x.doubleValue == y.doubleValue
    case (x: Number, y: java.lang.Double) => x.doubleValue == y.doubleValue
    case (x: Number, y: java.lang.Float)  => x.doubleValue == y.doubleValue
    case (x: Number, y: Number)           => x.longValue == y.longValue
    // string id vs numeric id: Spark's =!= casts the string side — "7"
    // equals 7L; an unparsable string equals no number
    case (x: String, y: Number) =>
      try x.trim.toDouble == y.doubleValue catch { case _: NumberFormatException => false }
    case (x: Number, y: String) =>
      try y.trim.toDouble == x.doubleValue catch { case _: NumberFormatException => false }
    case (x, y)                           => x == y
  }

  /** Exact top-k cosine neighbors for every query row. `queries` is
    * broadcast (must be small); self-matches excluded when ids collide.
    * Deterministic: ties broken by ascending item id.
    *
    * Scale shape: one pass over `items` with a bounded per-partition
    * (query x k) heap — NEVER a shuffle of the items x queries cross
    * product. Each partition emits at most |queries| x k candidate rows;
    * the final exact rank runs over that tiny relation (partitions x
    * |queries| x k rows), so at 1B items the shuffle stays kilobytes.
    * Items with null/invalid vectors score null and are dropped. */
  def topKBrute(items: DataFrame, itemId: String, itemVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                k: Int, maxQueries: Int = 100000): DataFrame = {
    val spark = items.sparkSession
    val itemsPrj = items.select(col(itemId), col(itemVec))
    // Bounded collect (mirrors knnJoinExact's knnBroadcastThreshold probe):
    // limit(maxQueries+1) caps what can ever reach the driver, so a caller
    // with a huge query side gets a clean diagnostic instead of an OOM.
    val qRows = queries.select(col(queryId), col(queryVec))
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"topKBrute broadcasts the query side; it has more than $maxQueries " +
        "rows — use topKLsh or IvfIndex.topK for large query sets " +
        "(or raise maxQueries explicitly)")
    val qCollected = qRows
      .flatMap { r =>
        val v = r.getSeq[Float](1)
        if (v == null || r.isNullAt(0)) None else Some((r.get(0), v.toArray))
      }
    val bc = spark.sparkContext.broadcast(qCollected)
    val candSchema = StructType(Seq(
      queries.schema(queryId).copy(name = queryId),
      itemsPrj.schema.head.copy(name = itemId),
      StructField("similarity", DoubleType, nullable = false)))

    import Similarity.{cmpAny, sameId}
    // best-first: similarity desc, item id asc; PriorityQueue.head under
    // this ordering is the WORST retained candidate (same bounded-selection
    // pattern as KnnJoinExec's broadcast path)
    val ord = new Ordering[(Double, Any)] {
      override def compare(x: (Double, Any), y: (Double, Any)): Int = {
        val c = java.lang.Double.compare(y._1, x._1)
        if (c != 0) c else cmpAny(x._2, y._2)
      }
    }

    implicit val enc = Encoders.row(candSchema)
    val partial = itemsPrj.mapPartitions { rows =>
      val qs = bc.value
      val heaps = Array.fill(qs.length)(
        new scala.collection.mutable.PriorityQueue[(Double, Any)]()(ord))
      rows.foreach { r =>
        val iid = r.get(0)
        val v = r.getSeq[Float](1)
        if (v != null && iid != null) { // null-id items dropped, like the old =!= filter
          val vec = v.toArray
          var i = 0
          while (i < qs.length) {
            val (qid, qv) = qs(i)
            if (!sameId(qid, iid)) {
              val c = CosineSimilarity.cosine(qv, vec)
              if (c != null) {
                val cand = (c.doubleValue(), iid)
                val h = heaps(i)
                if (h.size < k) h.enqueue(cand)
                else if (ord.compare(cand, h.head) < 0) {
                  h.dequeue(); h.enqueue(cand)
                }
              }
            }
            i += 1
          }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        val qid = qs(i)._1
        h.iterator.map { case (s, iid) => Row(qid, iid, s) }
      }
    }
    partial
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryId))
          .orderBy(col("similarity").desc, col(itemId).asc)))
      .where(col("rank") <= k)
      .select(col(queryId), col(itemId), col("similarity"), col("rank"))
  }

  /** Deterministic Rademacher hyperplane component for (table, bit, dim). */
  private def planeSign(table: Int, bit: Int, dim: Int): Float = {
    val h = Hash64.hash(UTF8String.fromString(s"$table:$bit:$dim"), 0x5eedL)
    if ((h & 1L) == 0L) 1.0f else -1.0f
  }

  /** Exact thresholded near-duplicate pairs: every (idA < idB) with cosine
    * >= `threshold`, scored over the full n²/2 — the brute-force baseline
    * the LSH variant below is measured against. Only viable when `items`
    * is small (a sample or a pre-filtered shard); at corpus scale use
    * [[nearDupPairs]]. */
  def nearDupPairsBrute(items: DataFrame, itemId: String, itemVec: String,
                        threshold: Double): DataFrame = {
    val a = items.select(col(itemId).as("ida"), col(itemVec).as("__va"))
    val b = items.select(col(itemId).as("idb"), col(itemVec).as("__vb"))
    a.join(broadcast(b), col("ida") < col("idb"))
      .withColumn("cosine", cosine_similarity(col("__va"), col("__vb")))
      .where(col("cosine") >= threshold)
      .select("ida", "idb", "cosine")
  }

  /** Embedding near-duplicate pair mining (the dedup-flavored variant):
    * all pairs (idA < idB) with cosine >= `threshold`. Candidates come from
    * LSH bucket collisions (tables x bits tune recall), then exact cosine
    * verification — only colliding pairs are scored, never the full n². */
  def nearDupPairs(items: DataFrame, itemId: String, itemVec: String,
                   threshold: Double, bits: Int = 8, tables: Int = 8): DataFrame = {
    val banded = bandedBuckets(items, itemId, itemVec, bits, tables, "t")
    val a = banded.select(col(itemId).as("ida"), col(itemVec).as("__va"),
      col("t_table"), col("t_bucket"))
    val b = banded.select(col(itemId).as("idb"), col(itemVec).as("__vb"),
      col("t_table").as("u_table"), col("t_bucket").as("u_bucket"))
    a.join(b.hint("shuffle_hash"),
        col("t_table") === col("u_table") && col("t_bucket") === col("u_bucket"))
      .where(col("ida") < col("idb"))
      .withColumn("cosine", cosine_similarity(col("__va"), col("__vb")))
      .where(col("cosine") >= threshold)
      .select("ida", "idb", "cosine")
      .dropDuplicates("ida", "idb")
  }

  /** RANGE (radius) search: every (query, item) pair with cosine >=
    * `minCos` — the retrieval twin of thresholded near-dup mining
    * (vector stores expose both top-k and radius). Brute form: queries
    * broadcast, one scan of the corpus, the items never shuffle — exact,
    * and the right plan whenever the query side is batch-sized. */
  def radiusSearchBrute(items: DataFrame, itemId: String, itemVec: String,
                        queries: DataFrame, queryId: String, queryVec: String,
                        minCos: Double): DataFrame = {
    val q = queries.select(col(queryId), col(queryVec).as("__qv"))
    items.select(col(itemId), col(itemVec).as("__iv"))
      .crossJoin(broadcast(q))
      .withColumn("cosine", cosine_similarity(col("__iv"), col("__qv")))
      .where(col("cosine") >= minCos)
      .select(col(queryId), col(itemId), col("cosine"))
  }

  /** LSH-bucketed radius search: candidates from sign-random-projection
    * bucket collisions (the [[topKLsh]] machinery), exact cosine verify —
    * only colliding pairs score, never |items| x |queries|. Approximate:
    * recall is tables/bits-tunable and spec-gated against the brute
    * form. */
  def radiusSearchLsh(items: DataFrame, itemId: String, itemVec: String,
                      queries: DataFrame, queryId: String, queryVec: String,
                      minCos: Double, bits: Int = 8, tables: Int = 8): DataFrame = {
    val ib = bandedBuckets(items, itemId, itemVec, bits, tables, "t")
    val qb = bandedBuckets(queries, queryId, queryVec, bits, tables, "u")
      .select(col(queryId), col(queryVec).as("__qv"),
        col("u_table"), col("u_bucket"))
    ib.join(qb.hint("shuffle_hash"),
        col("t_table") === col("u_table") && col("t_bucket") === col("u_bucket"))
      .withColumn("cosine", cosine_similarity(col(itemVec), col("__qv")))
      .where(col("cosine") >= minCos)
      .select(col(queryId), col(itemId), col("cosine"))
      .dropDuplicates(queryId, itemId)
  }

  /** `(id, tbl, bucket)` sign-random-projection bucket relation — the
    * engine-internal (hash-family) half of [[topKLsh]] as a standalone,
    * checkpointable index table: persist it once and the bucket join /
    * scoring / ranking downstream is pure relational algebra (and therefore
    * SQL-oracle-able over the persisted bits). */
  def buckets(df: DataFrame, id: String, vec: String,
              bits: Int, tables: Int): DataFrame =
    bandedBuckets(df, id, vec, bits, tables, "t")
      .select(col(id), col("t_table").as("tbl"), col("t_bucket").as("bucket"))

  /** [[topKLsh]] over a precomputed [[buckets]] relation (`bucketId`,
    * tbl, bucket) — the persisted-index read path: items/queries join their
    * buckets by id instead of recomputing projections, then the identical
    * bucket-join → exact-cosine → window-top-k tail. Produces the same rows
    * as [[topKLsh]] when `bkts` = buckets(items ∪ queries). */
  def topKFromBuckets(items: DataFrame, itemId: String, itemVec: String,
                      queries: DataFrame, queryId: String, queryVec: String,
                      k: Int, bkts: DataFrame, bucketId: String): DataFrame = {
    val ib = items.join(bkts, col(itemId) === bkts(bucketId))
      .select(col(itemId), col(itemVec),
        col("tbl").as("i_table"), col("bucket").as("i_bucket"))
    val qb = queries.join(bkts, col(queryId) === bkts(bucketId))
      .select(col(queryId), col(queryVec),
        col("tbl").as("q_table"), col("bucket").as("q_bucket"))
    qb.join(ib.hint("shuffle_hash"),
        col("q_table") === col("i_table") && col("q_bucket") === col("i_bucket"))
      .where(col(queryId) =!= col(itemId))
      .dropDuplicates(queryId, itemId)
      .withColumn("similarity", cosine_similarity(col(queryVec), col(itemVec)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryId))
          .orderBy(col("similarity").desc, col(itemId).asc)))
      .where(col("rank") <= k)
      .select(col(queryId), col(itemId), col("similarity"), col("rank"))
  }

  /** Task-side bucketizer with a lazily built, per-instance sign-plane
    * cache: the Rademacher component is a pure function of (table, bit,
    * dim), so hashing it per ROW — 2M rows × tables × bits × dims ≈ 6e9
    * string hashes at the 100x rehearsal — cost 10x the dot products
    * themselves (measured 260 s → 23 s). The cache is @transient and
    * rebuilt per task; rows only pay the flat float-array loops. */
  private final class Bucketizer(t: Int, b: Int)
      extends (Seq[Float] => Array[Int]) with Serializable {
    @transient private var planes: Array[Float] = _
    @transient private var dimCap: Int = 0
    def apply(v: Seq[Float]): Array[Int] = {
      if (v == null) return null
      val dim = v.length
      if (planes == null || dim > dimCap) {
        val p = new Array[Float](t * b * dim)
        var ti = 0
        while (ti < t) {
          var bi = 0
          while (bi < b) {
            var d = 0
            while (d < dim) {
              p((ti * b + bi) * dim + d) = planeSign(ti, bi, d)
              d += 1
            }
            bi += 1
          }
          ti += 1
        }
        planes = p; dimCap = dim
      }
      val x = new Array[Float](dim)
      var i = 0
      while (i < dim) { x(i) = v(i); i += 1 }
      val out = new Array[Int](t)
      var ti = 0
      while (ti < t) {
        var bucket = 0
        var bi = 0
        while (bi < b) {
          val off = (ti * b + bi) * dimCap
          var dot = 0.0
          var d = 0
          while (d < dim) { dot += x(d) * planes(off + d); d += 1 }
          if (dot > 0) bucket |= (1 << bi)
          bi += 1
        }
        out(ti) = bucket
        ti += 1
      }
      out
    }
  }

  private def bandedBuckets(df: DataFrame, id: String, vec: String,
                            bits: Int, tables: Int, pfx: String): DataFrame = {
    require(bits <= 30, "bits must fit an Int bucket")
    val bucketize = udf(new Bucketizer(tables, bits))
    df.select(col(id), col(vec),
      posexplode(bucketize(col(vec))).as(Seq(s"${pfx}_table", s"${pfx}_bucket")))
  }

  /** LSH-bucketed approximate top-k: `tables` independent sign-random-
    * projection hashes of `bits` bits; item/query pairs sharing any bucket
    * are scored exactly and windowed to top-k. Output schema matches
    * [[topKBrute]] (+ possibly fewer than k rows for low-recall queries). */
  def topKLsh(items: DataFrame, itemId: String, itemVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, bits: Int = 12, tables: Int = 4): DataFrame = {
    val bi = bandedBuckets(items, itemId, itemVec, bits, tables, "i")
    val bq = bandedBuckets(queries, queryId, queryVec, bits, tables, "q")
    val cand = bq.join(bi,
        col("q_table") === col("i_table") && col("q_bucket") === col("i_bucket"))
      .where(col(queryId) =!= col(itemId))
      .dropDuplicates(queryId, itemId)
      .withColumn("similarity", cosine_similarity(col(queryVec), col(itemVec)))
    cand
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryId))
          .orderBy(col("similarity").desc, col(itemId).asc)))
      .where(col("rank") <= k)
      .select(col(queryId), col(itemId), col("similarity"), col("rank"))
  }
}
