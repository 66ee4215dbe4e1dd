package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.index.strtree.STRtree

import graft.core.{GeomPredicates, GeometryCodec, Mbb}
import graft.functions.{st_envelope, GeomKernels}
import graft.operators.{SpatialJoin, TileIndex}
import graft.sources.{SpatialStore, WktTsvSource}

/** Per-layer metrics of a traced run. Runtime numbers (`spark.*`,
  * `operators.*` times, `sql.*`, `sources.scans_per_op`) come from the
  * traced operations of the timed loop; kernel numbers (`functions.*`,
  * `core.*`, `partition.*`) from timing those public functions on the
  * driver over a seeded sample of the workload's inputs. Counts and
  * ratios of a layer a workload does not exercise report 0. */
object Layers {

  val Sample = 400

  private def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Median ns per call of `f` over `n` inputs (5 timed passes after 2
    * warm passes). */
  def nsPerCall(n: Int)(f: Int => Any): Double = {
    var sink = 0
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { val r = f(i); if (r != null) sink += r.hashCode; i += 1 }
      System.nanoTime() - t0
    }
    pass(); pass()
    val t = Seq.fill(5)(pass().toDouble / n)
    if (sink == 42) println("")
    Stats.median(t)
  }

  def timeS(reps: Int)(f: => Unit): Double =
    Stats.median(Seq.fill(reps) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The envelope columns `SpatialJoin.planTiles` reads, derived from the
    * WKB column `geom` as `SpatialJoin.join` and `SpatialStore.write` derive
    * them (rows without an envelope dropped). */
  def envelopes(df: DataFrame, geom: String): DataFrame =
    df.select(st_envelope(col(geom)).as("e")).where(col("e").isNotNull)
      .select(col("e.xmin").as("__xmin"), col("e.ymin").as("__ymin"),
        col("e.xmax").as("__xmax"), col("e.ymax").as("__ymax"))

  def mbb(g: Geometry): Mbb = {
    val e = g.getEnvelopeInternal
    Mbb(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }

  def metrics(spark: SparkSession, w: Workload, tr: Tracer, ops: Seq[OpRecord],
              seed: Long): Seq[(String, Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)
    val cores = spark.sparkContext.defaultParallelism

    // ---- runtime layers, from the traced operations of the timed loop
    val traced = ops.filter(o => o.traced && tr.events.contains(o.id))
    val prim = traced.filter(_.kind == w.primary)
    def ev(o: OpRecord) = tr.events(o.id)
    def sumTask(o: OpRecord, i: Int) = ev(o).tasks.map(_(i)).sum.toDouble
    def med(os: Seq[OpRecord])(f: OpRecord => Double) = median(os.map(f))
    val inputRows = w.props.getOrElse("input_rows", 1.0)
    val scanOps = traced.filter(o => o.kind != "window_read")
    put("sources.scans_per_op", med(scanOps)(o => sumTask(o, 6) / inputRows), "ratio")
    // source metadata read on the driver before a scan can be planned: the
    // field-count probe of WktTsvSource.read; the store's readMeta replaces
    // it on window_store below
    put("sources.meta_read_ms", med(traced.filter(o => tr.hasSpan(o.id, "sources.read")))(o =>
      tr.spanNs(o.id, "sources.read") / 1e6), "ms")
    put("sources.window_rows_scanned_per_row",
      med(prim.filter(_.kind == "window_read"))(o =>
        sumTask(o, 6) / math.max(1.0, ev(o).counters.getOrElse("rows", 0.0))), "ratio")
    put("operators.plan_s", med(prim)(o => tr.spanNs(o.id, "operators.plan") / 1e9), "s")
    put("operators.exec_s", med(prim)(o => tr.spanNs(o.id, "operators.exec") / 1e9), "s")
    put("sql.plan_ms", med(traced)(o => tr.spanNs(o.id, "sql.parse", "sql.plan") / 1e6), "ms")
    put("spark.jobs", med(prim)(o => ev(o).jobs.length.toDouble), "count")
    put("spark.stages", med(prim)(o => ev(o).stages.size.toDouble), "count")
    put("spark.tasks", med(prim)(o => ev(o).tasks.length.toDouble), "count")
    put("spark.driver_gap_s", med(prim)(o => o.wallNs / 1e9 - unionMs(ev(o).jobs.toSeq) / 1e3), "s")
    put("spark.input_mb", med(prim)(o => sumTask(o, 5) / 1048576), "MB")
    put("spark.shuffle_write_mb", med(prim)(o => sumTask(o, 8) / 1048576), "MB")
    put("spark.shuffle_read_mb", med(prim)(o => sumTask(o, 7) / 1048576), "MB")
    put("spark.spill_mb", med(prim)(o => sumTask(o, 9) / 1048576), "MB")
    put("spark.executor_run_s", med(prim)(o => sumTask(o, 2) / 1e3), "s")
    put("spark.executor_cpu_s", med(prim)(o => sumTask(o, 3) / 1e9), "s")
    // JVM-wide: in local mode the driver and the executors share one heap;
    // a mean, because most short operations see no collection at all
    put("spark.gc_s", prim.map(o => ev(o).counters.getOrElse("gc_ms", 0.0)).sum / 1e3 /
      math.max(1, prim.length), "s")
    put("spark.core_busy", med(prim)(o => sumTask(o, 2) / 1e3 / (o.wallNs / 1e9 * cores)), "ratio")
    put("spark.task_skew", med(prim)(o => taskSkew(ev(o).tasks.toSeq)), "ratio")
    val untracedPrim = ops.filter(o => !o.traced && o.kind == w.primary).map(_.wallNs.toDouble)
    val tracedPrim = prim.map(_.wallNs.toDouble)
    put("trace.overhead_pct",
      if (untracedPrim.isEmpty || tracedPrim.isEmpty) 0.0
      else (median(tracedPrim) / median(untracedPrim) - 1) * 100, "%")

    // ---- characterization on the driver and in small untimed jobs
    w match {
      case p: PolygonOverlay => polygon(spark, p, seed, put)
      case s: WindowStore => window(spark, s, seed, put)
    }
    val order = Seq("sources.text_scan_s", "sources.scan_parse_s", "sources.scans_per_op",
      "sources.store_files", "sources.store_bytes_ratio", "sources.meta_read_ms",
      "sources.window_files_read", "sources.window_rows_scanned_per_row",
      "functions.wkt_parse_ns", "functions.envelope_ns", "functions.overlay_area_ns",
      "functions.distance_ns", "core.wkb_decode_ns", "core.refine_ns",
      "partition.plan_ms", "partition.tiles", "partition.tile_skew", "partition.replication",
      "operators.plan_s", "operators.exec_s", "operators.candidate_pairs",
      "operators.result_pairs", "operators.refine_hit_ratio", "operators.dedup_drop_ratio",
      "sql.plan_ms")
    val defaults = Map("sources.store_files" -> "count", "sources.store_bytes_ratio" -> "ratio",
      "sources.window_files_read" -> "count",
      "operators.dedup_drop_ratio" -> "ratio")
    val front = order.map(k => (k, m.get(k).map(_._1).getOrElse(0.0),
      m.get(k).map(_._2).getOrElse(defaults(k))))
    front ++ m.iterator.filterNot(kv => order.contains(kv._1)).map { case (k, (v, u)) => (k, v, u) }
  }

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** max ÷ median task duration in the stage with the most task time. */
  def taskSkew(tasks: Seq[Array[Long]]): Double =
    if (tasks.isEmpty) 0.0
    else {
      val longest = tasks.groupBy(_(0)).maxBy(_._2.map(_(1)).sum)._2.map(_(1).toDouble)
      longest.max / math.max(1.0, Stats.median(longest))
    }

  private type Put = (String, Double, String) => Unit

  /** Kernel costs over sampled objects and sampled candidate pairs. */
  private def kernels(objs: Array[Geometry], pairs: Array[(Geometry, Geometry)], put: Put): Unit = {
    val wkt = objs.map(g => UTF8String.fromString(GeometryCodec.toWkt(g)))
    val wkb = objs.map(GeometryCodec.toWkb)
    val pa = pairs.map(p => GeometryCodec.toWkb(p._1)); val pb = pairs.map(p => GeometryCodec.toWkb(p._2))
    put("functions.wkt_parse_ns", nsPerCall(wkt.length)(i => GeomKernels.wktToWkb(wkt(i))), "ns")
    put("functions.envelope_ns", nsPerCall(wkb.length)(i => GeomKernels.envelope(wkb(i))), "ns")
    put("functions.overlay_area_ns",
      nsPerCall(pa.length)(i => GeomKernels.measure(pa(i), pb(i), "intersection_area")), "ns")
    put("functions.distance_ns", nsPerCall(pa.length)(i => GeomKernels.distance(pa(i), pb(i))), "ns")
    put("core.wkb_decode_ns", nsPerCall(wkb.length)(i => GeometryCodec.fromWkb(wkb(i))), "ns")
    put("core.refine_ns", nsPerCall(pairs.length)(i =>
      java.lang.Boolean.valueOf(GeomPredicates.eval("intersects", pairs(i)._1, pairs(i)._2, 0.0))), "ns")
  }

  /** Envelope-intersecting pairs between `probes` and `build`. */
  private def candidates(probes: Array[Geometry], build: Array[Geometry]): Array[(Geometry, Geometry)] = {
    val tree = new STRtree()
    build.foreach(g => tree.insert(g.getEnvelopeInternal, g))
    tree.build()
    probes.flatMap(p => tree.query(p.getEnvelopeInternal).asScala.map(b => (p, b.asInstanceOf[Geometry])))
  }

  /** Tiles from the engine's own planner. `partition.plan_ms` times the
    * whole `planTiles` call, as an operation pays it: its aggregates over
    * the input scan included. */
  private def partition(spark: SparkSession, w: Workload, objs: Array[Mbb], put: Put): TileIndex = {
    val planned = Seq.fill(3) {
      val t0 = System.nanoTime(); val idx = w.planTiles(spark); (idx, (System.nanoTime() - t0) / 1e6) }
    val idx = planned.head._1
    put("partition.plan_ms", Stats.median(planned.map(_._2)), "ms")
    put("partition.tiles", idx.tiles.length, "count")
    val perTile = objs.groupBy(o => idx.refTile(o.centerX, o.centerY)).map(_._2.length.toDouble)
    val all = perTile.toSeq ++ Seq.fill(math.max(0, idx.tiles.length - perTile.size))(0.0)
    put("partition.tile_skew", all.max / math.max(1.0, Stats.median(all)), "ratio")
    put("partition.replication",
      objs.map(o => idx.buildKeys(o.xmin, o.ymin, o.xmax, o.ymax).length.toDouble).sum / objs.length, "ratio")
    idx
  }

  private def polygon(spark: SparkSession, w: PolygonOverlay, seed: Long, put: Put): Unit = {
    val a = Inputs.tsvPolygons(w.path("a.tsv")).map(_._2)
    val b = Inputs.tsvPolygons(w.path("b.tsv")).map(_._2)
    val sa = Inputs.sample(a.length, Sample, seed).map(a(_))
    kernels(sa, candidates(sa, b), put)
    val idx = partition(spark, w, (a ++ b).map(mbb), put)
    // per-tile envelope candidates: what the cogroup's STRtree probes see
    val perTileA = a.flatMap(g => { val e = mbb(g); idx.tilesFor(e.xmin, e.ymin, e.xmax, e.ymax).map(_ -> g) })
      .groupBy(_._1)
    val perTileB = b.flatMap(g => { val e = mbb(g); idx.tilesFor(e.xmin, e.ymin, e.xmax, e.ymax).map(_ -> g) })
      .groupBy(_._1)
    val cand = perTileA.iterator.map { case (t, as) =>
      candidates(as.map(_._2), perTileB.getOrElse(t, Array.empty).map(_._2)).length.toLong }.sum
    val ra = w.read(spark, "a.tsv", "a"); val rb = w.read(spark, "b.tsv", "b")
    val result = w.props("result_pairs")
    val none = SpatialJoin.join(ra, "a_geom", rb, "b_geom", SpatialJoin.Config(dedup = "none")).count()
    put("operators.candidate_pairs", cand, "count")
    put("operators.result_pairs", result, "count")
    put("operators.refine_hit_ratio", none / math.max(1.0, cand), "ratio")
    put("operators.dedup_drop_ratio", none / math.max(1.0, result) - 1, "ratio")
    put("sources.text_scan_s", timeS(3)(noop(spark.read.text(w.path("a.tsv"), w.path("b.tsv")))), "s")
    put("sources.scan_parse_s", timeS(3) {
      noop(WktTsvSource.read(spark, w.path("a.tsv"), 2)); noop(WktTsvSource.read(spark, w.path("b.tsv"), 2)) }, "s")
  }

  private def window(spark: SparkSession, w: WindowStore, seed: Long, put: Put): Unit = {
    val a = Inputs.tsvPolygons(w.path("a.tsv")).map(_._2)
    val boxes = Inputs.windows(w.path("windows.tsv"))
    val sa = Inputs.sample(a.length, Sample, seed).map(a(_))
    val used = Inputs.sample(boxes.length, 60, seed).map(boxes(_))
    kernels(sa, candidates(used, a).take(4 * Sample), put)
    partition(spark, w, a.map(mbb), put)
    val meta = SpatialStore.readMeta(spark, w.store)
    val stored = new TileIndex(meta.tiles, meta.space)
    put("sources.meta_read_ms", timeS(30)(SpatialStore.readMeta(spark, w.store)) * 1e3, "ms")
    put("sources.window_files_read", median(used.take(20).map(g =>
      SpatialStore.containmentRead(spark, w.store, GeometryCodec.toWkb(g)).inputFiles.length.toDouble)), "count")
    // replicas in the window's tiles (rows the scan must test), hits, and
    // replicas of hits (rows before the row-id dedup), per window
    val tree = new STRtree()
    a.foreach(g => tree.insert(g.getEnvelopeInternal, g)); tree.build()
    val per = used.map { win =>
      val e = mbb(win)
      val wanted = meta.tiles.filter(_.mbb.intersects(e)).map(_.tileId).toSet
      val inTiles = a.iterator.map { g => val o = mbb(g)
        stored.tilesFor(o.xmin, o.ymin, o.xmax, o.ymax).count(wanted) }.sum
      val hits = tree.query(win.getEnvelopeInternal).asScala.map(_.asInstanceOf[Geometry]).filter(win.intersects)
      val replicas = hits.iterator.map { g => val o = mbb(g)
        stored.tilesFor(o.xmin, o.ymin, o.xmax, o.ymax).count(wanted) }.sum
      (inTiles.toDouble, hits.size.toDouble, replicas.toDouble)
    }
    put("operators.candidate_pairs", median(per.map(_._1)), "count")
    put("operators.result_pairs", median(per.map(_._2)), "count")
    put("operators.refine_hit_ratio", per.map(_._3).sum / math.max(1.0, per.map(_._1).sum), "ratio")
    put("operators.dedup_drop_ratio", per.map(_._3).sum / math.max(1.0, per.map(_._2).sum) - 1, "ratio")
    val files = listFiles(new File(w.store))
    put("sources.store_files", files.count(_.getName.endsWith(".parquet")), "count")
    put("sources.store_bytes_ratio", files.map(_.length).sum.toDouble / new File(w.path("a.tsv")).length, "ratio")
    put("sources.text_scan_s", timeS(3)(noop(spark.read.text(w.path("a.tsv")))), "s")
    put("sources.scan_parse_s", timeS(3)(noop(WktTsvSource.read(spark, w.path("a.tsv"), 2))), "s")
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
    else Seq(f)
}
