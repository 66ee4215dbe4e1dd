package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.locationtech.jts.geom.Geometry

import graft.core.GeometryCodec
import graft.functions.st_intersection_area
import graft.operators.{SpatialJoin, TileIndex}
import graft.sources.{SpatialStore, WktTsvSource}

/** A workload: its inputs (files under `dir`), a warm-up, an untimed
  * reference pass with brute-force checks, and the operation kinds of one
  * closed-loop cycle. Every operation consumes its whole result. */
abstract class Workload(val dir: String, val seed: Long) {
  def name: String
  /** Operation kind reported as `op_cpu_p50_ms` / `op_cpu_tail_ms`. */
  def primary: String
  /** Operation kind reported as `op2_cpu_p50_ms`. */
  def secondary: String
  /** Operation kinds of one cycle, in order. */
  def cycle: Seq[String]
  def warmUp(spark: SparkSession): Unit
  /** Reference results for the timed operations, checked against a
    * driver-side brute-force JTS scan; returns the mismatches found. */
  def prepare(spark: SparkSession): Seq[String]
  /** Runs one operation; returns (input objects consumed, result correct). */
  def run(spark: SparkSession, kind: String, tr: Tracer): (Long, Boolean)
  /** The tile index the engine's default planner (`SpatialJoin.planTiles`)
    * builds for this workload's inputs, planned as the operations plan it. */
  def planTiles(spark: SparkSession): TileIndex

  /** Input properties measured by the benchmark (recorded per run). */
  val props = mutable.LinkedHashMap.empty[String, Double]
  /** Check failures found outside the timed operations. */
  val failures = ArrayBuffer.empty[String]

  def path(f: String): String = s"$dir/$f"
}

object Workload {
  def apply(name: String, dir: String, seed: Long): Workload = name match {
    case "polygon_overlay" => new PolygonOverlay(dir, seed)
    case "window_store" => new WindowStore(dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Order-independent reduction of a whole result: (rows, sum of row hashes
  * mod 2^31-1, xor of row hashes). The row hash covers every column, with
  * doubles rounded to 1e-6, so every output column must be computed. */
object Digest {
  type D = (Long, Long, Long)

  def frame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType == DoubleType) round(col(s"`${f.name}`"), 6) else col(s"`${f.name}`")
    }
    val h = xxhash64(cols: _*)
    df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h))
  }

  private def read(r: Row): D =
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
     if (r.isNullAt(2)) 0L else r.getLong(2))

  /** Plans and runs the digest of `df`, inside trace spans. */
  def of(df: DataFrame, tr: Tracer, execSpan: String): D = {
    val agg = frame(df)
    tr.span("sql.plan") { agg.queryExecution.executedPlan }
    tr.span(execSpan) { read(agg.collect().head) }
  }

  /** Digest of rows already collected on the driver (same reduction). */
  def ofRows(spark: SparkSession, rows: Array[Row], df: DataFrame): D =
    read(frame(spark.createDataFrame(rows.toSeq.asJava, df.schema)).collect().head)
}

/** Driver-side JTS inputs for brute-force checks. */
object Inputs {
  def tsvPolygons(path: String): Array[(String, Geometry)] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.iterator
      .map { l => val t = l.split("\t", -1); (t(0), GeometryCodec.fromWkt(t(1))) }
      .toArray

  def windows(path: String): Array[Geometry] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.iterator
      .map { l => val t = l.split("\t").map(_.toDouble)
        GeometryCodec.box(t(1), t(2), t(3), t(4)) }
      .toArray

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))

  /** Seeded sample of `k` distinct indices below `n`. */
  def sample(n: Int, k: Int, seed: Long): Array[Int] =
    new scala.util.Random(seed).shuffle((0 until n).toVector).take(math.min(n, k)).toArray.sorted
}

/** Two polygon sets cross-compared: DataFrame `SpatialJoin.join` and SQL
  * `JOIN ... ON st_intersects`, both with the intersection area. */
final class PolygonOverlay(dir: String, seed: Long) extends Workload(dir, seed) {
  val name = "polygon_overlay"
  val primary = "spjoin_df"; val secondary = "spjoin_sql"
  val cycle = Seq("spjoin_df", "spjoin_sql")
  val Probes = 1000
  private var ref: Digest.D = _
  private var objects = 0L

  def read(spark: SparkSession, file: String, side: String): DataFrame =
    WktTsvSource.read(spark, path(file), 2)
      .select(col("f1").as(s"${side}_id"), col("geom").as(s"${side}_geom"))

  def dfJoin(a: DataFrame, b: DataFrame, tr: Tracer): DataFrame =
    tr.span("operators.plan") { SpatialJoin.join(a, "a_geom", b, "b_geom") }
      .withColumn("area", st_intersection_area(col("a_geom"), col("b_geom")))

  val Sql = "SELECT a.*, b.*, st_intersection_area(a.a_geom, b.b_geom) AS area " +
    "FROM a JOIN b ON st_intersects(a.a_geom, b.b_geom)"

  def sqlJoin(spark: SparkSession, a: DataFrame, b: DataFrame, tr: Tracer): DataFrame = {
    a.createOrReplaceTempView("a"); b.createOrReplaceTempView("b")
    tr.span("sql.parse") { spark.sql(Sql) }
  }

  def warmUp(spark: SparkSession): Unit = {
    val off = Tracer.off
    val a = read(spark, "warm_a.tsv", "a"); val b = read(spark, "warm_b.tsv", "b")
    val d1 = Digest.of(dfJoin(a, b, off), off, "operators.exec")
    val d2 = Digest.of(sqlJoin(spark, a, b, off), off, "sql.exec")
    if (d1 != d2) failures += s"warm-up: DataFrame and SQL joins differ: $d1 vs $d2"
  }

  def prepare(spark: SparkSession): Seq[String] = {
    val off = Tracer.off
    val out = ArrayBuffer.empty[String]
    val a = read(spark, "a.tsv", "a"); val b = read(spark, "b.tsv", "b")
    val joined = dfJoin(a, b, off)
    val rows = joined.collect()
    ref = Digest.ofRows(spark, rows, joined)
    val sqlD = Digest.of(sqlJoin(spark, a, b, off), off, "sql.exec")
    if (sqlD != ref) out += s"SQL join digest $sqlD differs from DataFrame join $ref"
    // brute force: every B polygon against a seeded sample of A probes
    val pa = Inputs.tsvPolygons(path("a.tsv")); val pb = Inputs.tsvPolygons(path("b.tsv"))
    objects = pa.length.toLong + pb.length
    val probes = Inputs.sample(pa.length, Probes, seed).map(pa(_))
    val probeIds = probes.map(_._1).toSet
    val expected = mutable.Map.empty[(String, String), Double]
    probes.foreach { case (ida, ga) =>
      val ea = ga.getEnvelopeInternal
      pb.foreach { case (idb, gb) =>
        if (ea.intersects(gb.getEnvelopeInternal) && ga.intersects(gb))
          expected((ida, idb)) = ga.intersection(gb).getArea
      }
    }
    val probeRows = rows.filter(r => probeIds(r.getString(0)))
    val got = probeRows.iterator.map(r => (r.getString(0), r.getString(2)) -> r.getDouble(4)).toMap
    // a pair emitted twice (a dedup or tile-replication fault) leaves the
    // pair set intact but not the row count
    if (probeRows.length != expected.size)
      out += s"join rows for ${probes.length} probes: engine ${probeRows.length}, " +
        s"brute force ${expected.size}"
    if (got.keySet != expected.keySet)
      out += s"join pairs for ${probes.length} probes: engine ${got.size}, " +
        s"brute force ${expected.size}, differing ${(got.keySet diff expected.keySet).size + (expected.keySet diff got.keySet).size}"
    else got.foreach { case (k, v) =>
      if (!Inputs.close(v, expected(k))) out += s"intersection area of $k: $v vs ${expected(k)}"
    }
    props("input_rows") = objects
    props("result_pairs") = rows.length
    props("pairs_per_polygon") = rows.length.toDouble / pa.length
    props("objects_per_fg_tile") = objects.toDouble / planTiles(spark).tiles.length
    out.toSeq
  }

  def planTiles(spark: SparkSession): TileIndex =
    SpatialJoin.planTiles(Layers.envelopes(read(spark, "a.tsv", "a"), "a_geom"),
      Layers.envelopes(read(spark, "b.tsv", "b"), "b_geom"), SpatialJoin.Config())

  def run(spark: SparkSession, kind: String, tr: Tracer): (Long, Boolean) = {
    val (a, b) = tr.span("sources.read") {
      (read(spark, "a.tsv", "a"), read(spark, "b.tsv", "b")) }
    val d =
      if (kind == "spjoin_df") Digest.of(dfJoin(a, b, tr), tr, "operators.exec")
      else Digest.of(sqlJoin(spark, a, b, tr), tr, "sql.exec")
    (objects, d == ref)
  }
}

/** A tile-partitioned `SpatialStore` of the A polygon set, rewritten once
  * per cycle and read by many small seeded windows, each collected. */
final class WindowStore(dir: String, seed: Long) extends Workload(dir, seed) {
  val name = "window_store"
  val primary = "window_read"; val secondary = "store_write"
  val ReadsPerCycle = 10
  val cycle = "store_write" +: Seq.fill(ReadsPerCycle)("window_read")
  val store = path("store")
  private var windows: Array[Array[Byte]] = _
  private var expected: Array[Set[String]] = _
  private var next = 0
  private var objects = 0L
  private var storeTiles = 0

  def write(spark: SparkSession, input: String, to: String, tr: Tracer): Unit = {
    val a = tr.span("sources.read") { WktTsvSource.read(spark, path(input), 2) }
    tr.span("sources.write") { SpatialStore.write(a, "geom", to) }
  }

  def read(spark: SparkSession, window: Array[Byte], tr: Tracer): Array[Row] = {
    val df = tr.span("operators.plan") { SpatialStore.containmentRead(spark, store, window) }
    tr.span("sql.plan") { df.queryExecution.executedPlan }
    tr.span("operators.exec") { df.collect() }
  }

  def warmUp(spark: SparkSession): Unit = {
    val off = Tracer.off
    write(spark, "warm_a.tsv", store, off)
    Inputs.windows(path("warm_windows.tsv")).foreach(w => read(spark, GeometryCodec.toWkb(w), off))
  }

  def prepare(spark: SparkSession): Seq[String] = {
    val polys = Inputs.tsvPolygons(path("a.tsv"))
    objects = polys.length
    // every write must store the tile set the engine's planner gives
    storeTiles = planTiles(spark).tiles.length
    val boxes = Inputs.windows(path("windows.tsv"))
    windows = boxes.map(GeometryCodec.toWkb)
    // every read, from the warm cycle on, is checked against these hits
    expected = boxes.map { w =>
      val e = w.getEnvelopeInternal
      polys.iterator.filter { case (_, g) =>
        e.intersects(g.getEnvelopeInternal) && w.intersects(g) }.map(_._1).toSet
    }
    props("input_rows") = objects
    props("mean_rows_per_window") = expected.map(_.size).sum.toDouble / expected.length
    props("store_tiles") = storeTiles
    props("objects_per_fg_tile") = objects.toDouble / storeTiles
    Seq.empty
  }

  /** As `SpatialStore.write` plans it: one side, no build side. */
  def planTiles(spark: SparkSession): TileIndex = {
    val env = Layers.envelopes(WktTsvSource.read(spark, path("a.tsv"), 2), "geom")
    SpatialJoin.planTiles(env, env.limit(0), SpatialJoin.Config())
  }

  def nextWindow(): Int = { val i = next % windows.length; next += 1; i }

  def run(spark: SparkSession, kind: String, tr: Tracer): (Long, Boolean) =
    if (kind == "store_write") {
      write(spark, "a.tsv", store, tr)
      (objects, SpatialStore.readMeta(spark, store).tiles.length == storeTiles)
    } else {
      val i = nextWindow()
      val rows = read(spark, windows(i), tr)
      tr.note("rows", rows.length)
      (rows.length.toLong, rows.map(_.getString(0)).toSet == expected(i) &&
        rows.length == expected(i).size)
    }
}
