package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1.0 testdata synthesis for the cross-SF correctness sidecar
  * (round-12 verdict #4): correctness was proven only at sf0.01, the
  * scale story only by bench rehearsals — this main builds a 10× sf0.1
  * data set so the DuckDB oracle can be replayed at sf1.0 on the
  * headline gates.
  *
  * 10 content-independent copies of each sf0.1 table, the established
  * rehearsal technique: keys shift by copy·10^7 (preserves
  * `doc_id % 50` — the decontaminate bench split — and keeps every key
  * distinct), document text gets the per-copy word prefix (per-copy
  * shingle structure identical to the corpus, cross-copy similarity
  * zero). The scaling is engine-free: gates and oracles read the SAME
  * parquet files, so no generation logic can favor either side.
  *
  * Usage: runMain graft.ScaleData <outDir> [copies]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val copies = if (args.length > 1) args(1).toInt else 10
    // the per-copy word prefix is "c<copy>x" — the 'x' delimiter makes the
    // prefixes PREFIX-FREE at any copy count ("c1x0foo" vs "c10xfoo"
    // diverge at the delimiter), so the cross-copy-similarity-zero
    // invariant holds for the 100-copy sf10 lane, not just copies <= 10.
    // 100 * Shift = 10^9 keeps every shifted key well inside Long.
    require(copies >= 1 && copies <= 100,
      s"copies must be in [1, 100], got $copies")
    val src = "/root/testdata/sf0.1"
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val Shift = 10000000L

    def copiesOf(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(copies).select(col("id").as("__copy")))
        .repartition(32)

    // key-distinctness invariant: copy c's keys live in [c*Shift,
    // (c+1)*Shift) on every listed key. ONE agg pass validates all keys
    // (per-key aggs would rescan the table once per key — lineitem, the
    // largest table, has three).
    def shiftKeys(df: DataFrame, keys: Seq[String]): DataFrame = {
      val maxes = df.agg(max(col(keys.head)),
        keys.tail.map(k => max(col(k))): _*).head()
      keys.zipWithIndex.foreach { case (k, i) =>
        require(maxes.getLong(i) < Shift,
          s"$k max ${maxes.getLong(i)} >= shift $Shift — shifted copies would collide")
      }
      keys.foldLeft(copiesOf(df))((d, k) =>
        d.withColumn(k, col(k) + col("__copy") * Shift))
        .drop("__copy")
    }
    def shiftKey(df: DataFrame, key: String): DataFrame =
      shiftKeys(df, Seq(key))

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaledata] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    write(shiftKey(spark.read.parquet(s"$src/part.parquet"), "p_partkey"), "part")
    write(shiftKey(spark.read.parquet(s"$src/customer.parquet"), "c_custkey"), "customer")
    write(shiftKey(spark.read.parquet(s"$src/supplier.parquet"), "s_suppkey"), "supplier")
    val docsSrc = spark.read.parquet(s"$src/documents.parquet")
    require(docsSrc.agg(max(col("doc_id"))).head().getLong(0) < Shift,
      s"doc_id max >= shift $Shift — shifted copies would collide")
    val docs = copiesOf(docsSrc)
      .withColumn("doc_id", col("doc_id") + col("__copy") * Shift)
      .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("c"), col("__copy"), lit("x$1"))))
      .drop("__copy")
    write(docs, "documents")

    // ---- round-14 sidecar extension: the remaining tables, so the ANN /
    // temporal / streaming / pipeline gate families replay at sf1.0 too.
    // Same engine-free discipline: pure column transforms writing parquet
    // both engines read.

    // orders ↔ lineitem keep their join structure per copy: copy c's
    // orders reference copy c's customers, copy c's lineitems reference
    // copy c's orders/parts/suppliers — join fan-outs scale ∝ copies,
    // not copies², and q3-style join gates stay referentially realistic
    write(shiftKeys(spark.read.parquet(s"$src/orders.parquet"),
      Seq("o_orderkey", "o_custkey")), "orders")
    write(shiftKeys(spark.read.parquet(s"$src/lineitem.parquet"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    // events: keys shift (event ids distinct, per-copy user populations
    // disjoint); timestamps stay — 10× densification of the same time
    // range, the realistic shape for windowed/sessionized gates
    write(shiftKeys(spark.read.parquet(s"$src/events.parquet"),
      Seq("event_id", "user_id")), "events")
    // embeddings: ids shift; vectors ROTATE by the copy index (same norm,
    // distinct direction) so ANN top-k isn't a 10-way tie at every rank —
    // rank boundaries under duplicated vectors would hinge on float-tie
    // ordering, exactly the brittleness a correctness gate must not carry
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embMax = emb.agg(max(col("vec_id"))).head().getLong(0)
    require(embMax < Shift, s"vec_id max $embMax >= shift $Shift")
    write(copiesOf(emb)
      .withColumn("vec_id", col("vec_id") + col("__copy") * Shift)
      // rotate by copy MOD dim: at copies > dim a raw copy index would
      // rotate past the vector (empty slice + whole-array slice = no
      // rotation), re-creating the duplicated-vector ties the rotation
      // exists to avoid
      .withColumn("__rot", pmod(col("__copy"), size(col("embedding"))).cast("int"))
      .withColumn("embedding", concat(
        slice(col("embedding"), col("__rot") + 1,
          greatest(size(col("embedding")) - col("__rot"), lit(0))),
        slice(col("embedding"), lit(1), col("__rot"))))
      .drop("__copy", "__rot"), "embeddings")
    // bounded dims pass through unscaled (25 / 5 rows; scaled tables'
    // nation/region foreign keys are not shifted, so they keep joining)
    write(spark.read.parquet(s"$src/nation.parquet"), "nation")
    write(spark.read.parquet(s"$src/region.parquet"), "region")
    spark.stop()
  }
}
