package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkTestBase
import graft.core.GeometryCodec
import graft.functions.GeomKernels

/** The three kNN paths — [[SpatialJoin.knnJoin]] (tile-local), the tiled
  * and the broadcast [[SpatialJoin.knnJoinExact]] — share one top-m kernel
  * ([[SpatialJoin.KnnTile]]) and refine on [[SpatialJoin.join]]'s slots.
  * Each is checked against a driver-side brute force on inputs that starve
  * owner tiles, tie at the k boundary, carry unparseable, empty or
  * non-finite geometry, or hold fewer right rows than k. */
class KnnPathsSpec extends SparkTestBase {
  import spark.implicits._

  private def point(x: Double, y: Double): Array[Byte] =
    GeometryCodec.toWkb(GeometryCodec.point(x, y))

  private def frame(rows: Seq[(Long, Array[Byte])], id: String, geom: String): DataFrame =
    rows.toDF(id, geom)

  private val empty = GeometryCodec.toWkb(GeometryCodec.fromWkt("POINT EMPTY"))

  /** The rows every kNN path matches: parseable, located geometry. */
  private def parse(rows: Seq[(Long, Array[Byte])]) =
    rows.flatMap { case (i, b) => Option(b).flatMap(w => Option(GeometryCodec.fromWkb(w))).map(i -> _) }
      .filter { case (_, g) => GeomKernels.located(g.getEnvelopeInternal) }

  /** Global top-k by (distance, right id): (left id, right id, rank). */
  private def bruteExact(a: Seq[(Long, Array[Byte])], b: Seq[(Long, Array[Byte])],
                         k: Int): Set[(Long, Long, Int)] = {
    val gb = parse(b)
    parse(a).flatMap { case (i, g1) =>
      gb.map { case (j, g2) => (g1.distance(g2), j) }.sorted.take(k).zipWithIndex
        .map { case ((_, j), r) => (i, j, r + 1) }
    }.toSet
  }

  /** Tile-local top-k distances per left row: its owner tile's right rows
    * only, as planned for these inputs. Left rows whose tile holds no right
    * row are absent. */
  private def bruteTileLocal(a: Seq[(Long, Array[Byte])], b: Seq[(Long, Array[Byte])], k: Int,
                             cfg: SpatialJoin.Config): Map[Long, Seq[Double]] = {
    val idx = plan(a, b, cfg)
    val gb = parse(b).map { case (_, g) =>
      val e = g.getEnvelopeInternal
      (g, idx.tilesFor(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY).toSet)
    }
    parse(a).flatMap { case (i, g1) =>
      val e = g1.getEnvelopeInternal
      val owner = idx.refTile((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2)
      val ds = gb.collect { case (g2, ts) if ts(owner) => g1.distance(g2) }.sorted.take(k)
      if (ds.isEmpty) None else Some(i -> ds)
    }.toMap
  }

  private def plan(a: Seq[(Long, Array[Byte])], b: Seq[(Long, Array[Byte])],
                   cfg: SpatialJoin.Config): TileIndex = {
    val (l, r) =
      SpatialJoin.enveloped(frame(a, "id1", "g1"), "g1", frame(b, "id2", "g2"), "g2", cfg)
    SpatialJoin.planTiles(l, r, cfg)
  }

  /** Runs all three paths on `a` x `b` and checks each against brute force. */
  private def checkAllPaths(a: Seq[(Long, Array[Byte])], b: Seq[(Long, Array[Byte])],
                            k: Int, bucket: Int): Unit = {
    val l = frame(a, "id1", "g1"); val r = frame(b, "id2", "g2")
    val want = bruteExact(a, b, k)
    for ((path, threshold) <- Seq("tiled" -> 0, "broadcast" -> 10000)) {
      val got = SpatialJoin.knnJoinExact(l, "g1", "id1", r, "g2", k, tieBreak = Seq("id2"),
          cfg = SpatialJoin.Config(bucket = bucket, knnBroadcastThreshold = threshold))
        .select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect()
      assert(got.length == got.toSet.size, s"$path: duplicate rows")
      assert(got.toSet == want, s"$path: missing=${(want -- got.toSet).take(5)} " +
        s"extra=${(got.toSet -- want).take(5)}")
    }
    val cfg = SpatialJoin.Config(bucket = bucket)
    val local = SpatialJoin.knnJoin(l, "g1", r, "g2", k, cfg)
      .select("id1", "knn_dist").as[(Long, Double)].collect()
      .groupBy(_._1).map { case (i, ds) => i -> ds.map(_._2).sorted.toSeq }
    assert(local == bruteTileLocal(a, b, k, cfg), "knnJoin")
  }

  test("all three kNN paths == brute force with the right side clustered in one corner") {
    // lefts over [0,100]², rights in [0,5]²: nearly every owner tile holds
    // no right row, and those left rows must reach pass 2
    val rnd = new Random(5)
    def pts(n: Int, span: Double) =
      (0 until n).map(i => (i.toLong, point(rnd.nextDouble() * span, rnd.nextDouble() * span)))
    val a = pts(240, 100); val b = pts(60, 5)
    val idx = plan(a, b, SpatialJoin.Config(bucket = 20))
    def owner(g: org.locationtech.jts.geom.Geometry) =
      idx.refTile(g.getCoordinate.x, g.getCoordinate.y)
    val occupied = parse(b).map(p => owner(p._2)).toSet
    val starved = parse(a).count(p => !occupied(owner(p._2)))
    assert(starved > 200, s"only $starved left rows in right-empty owner tiles")
    checkAllPaths(a, b, k = 3, bucket = 20)
  }

  test("all three kNN paths == brute force with ties at the k boundary") {
    // rights on the integer lattice, lefts at cell centres: four rights at
    // distance √½ from each left, so k = 2 and k = 6 cut through a tie
    val b = for (x <- 0 until 12; y <- 0 until 12) yield ((x * 12 + y).toLong, point(x, y))
    val a = for (x <- 0 until 11; y <- 0 until 11)
      yield ((x * 11 + y).toLong, point(x + 0.5, y + 0.5))
    checkAllPaths(a, b, k = 2, bucket = 24)
    checkAllPaths(a, b, k = 6, bucket = 24)
  }

  test("all three kNN paths == brute force with null, unparseable, empty and non-finite geometry") {
    val rnd = new Random(17)
    def pts(n: Int) =
      (0 until n).map(i => (i.toLong, point(rnd.nextDouble() * 40, rnd.nextDouble() * 40)))
    val junk = Seq((900L, null.asInstanceOf[Array[Byte]]), (901L, Array[Byte](9, 9)),
      (902L, empty), (903L, point(3, Double.NaN)), (904L, point(Double.PositiveInfinity, 5)))
    checkAllPaths(pts(120) ++ junk, pts(50) ++ junk, k = 3, bucket = 16)
  }

  test("all three kNN paths: empty geometry never counts toward k") {
    // more right rows than k, fewer located ones: the broadcast path's
    // kernel must not wait for the empty ones to come into range
    val a = Seq((1L, point(1, 1)), (2L, empty), (3L, point(4, 0)))
    checkAllPaths(a, Seq((10L, point(0, 0)), (11L, empty), (12L, point(3, 3)), (13L, empty)),
      k = 3, bucket = 16)
    checkAllPaths(a, Seq((10L, empty), (11L, empty)), k = 1, bucket = 16)
    intercept[IllegalArgumentException](
      new SpatialJoin.KnnTile(Array(GeometryCodec.point(0, 0), GeometryCodec.fromWkb(empty))))
  }

  test("knnJoin keeps its inputs' column types and nullability") {
    val l = frame(Seq(1L -> point(0, 0)), "id1", "g1")
    val r = frame(Seq(2L -> point(1, 1)), "id2", "g2")
    assert(!l.schema("id1").nullable && r.schema("g2").nullable)
    val out = SpatialJoin.knnJoin(l, "g1", r, "g2", 1)
    assert(out.schema == StructType(l.schema ++ r.schema :+
      StructField("knn_dist", DoubleType, nullable = false)))
  }

  test("all three kNN paths: an empty right side, and k larger than the right side") {
    val rnd = new Random(29)
    val a = (0 until 60).map(i => (i.toLong, point(rnd.nextDouble() * 20, rnd.nextDouble() * 20)))
    checkAllPaths(a, Seq.empty, k = 3, bucket = 16)
    val b = (0 until 5).map(i => (i.toLong, point(rnd.nextDouble() * 20, rnd.nextDouble() * 20)))
    checkAllPaths(a, b, k = 8, bucket = 16)
  }

  test("KnnTile.nearest: the top m equal a full sort's top m by (distance, position)") {
    // integer coordinates on a small grid, so distance ties are common
    val geoms = Gen.listOf(Gen.zip(Gen.choose(0, 8), Gen.choose(0, 8)))
    val prop = Prop.forAll(geoms, Gen.choose(0, 8), Gen.choose(0, 8), Gen.choose(1, 12)) {
      (ps, qx, qy, m) =>
        val gs = ps.map { case (x, y) => GeometryCodec.point(x, y) }.toArray
        val q = GeometryCodec.point(qx, qy)
        val full = gs.indices.map(p => (q.distance(gs(p)), p)).sorted
        val got = new SpatialJoin.KnnTile(gs).nearest(q, m)
        val mth = full.take(m).lastOption.map(_._1)
        got.take(m).toSeq == full.take(m) &&
          got.toSeq == got.toSeq.sorted &&
          // every geometry tied with the m-th is among the candidates
          full.filter(c => mth.contains(c._1)).forall(got.contains)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.toString)
  }

  /** Task count of every stage that read shuffle data while `body` ran. */
  private def shuffleStageTasks(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val reads = new ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          reads.add((t.stageId, t.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; Bridge.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
    reads.asScala.toSeq.groupBy(_._1).values.filter(_.map(_._2).sum > 0).map(_.size).toSeq
  }

  test("knnJoin and pass 1 refine in one task per owner tile on a uniform 16-tile input") {
    def lattice(dx: Double, dy: Double) =
      for (x <- 0 until 32; y <- 0 until 32) yield ((x * 32 + y).toLong, point(x + dx, y + dy))
    val a = lattice(0.25, 0.25); val b = lattice(0.75, 0.5)
    val cfg = SpatialJoin.Config(bucket = 128, knnBroadcastThreshold = 0)
    val idx = plan(a, b, cfg)
    assert(idx.tiles.length == 16 && idx.shardCounts.isEmpty)
    val slots = math.min(16, 4 * spark.sparkContext.defaultParallelism)
    val l = frame(a, "id1", "g1"); val r = frame(b, "id2", "g2")

    val local = shuffleStageTasks {
      SpatialJoin.knnJoin(l, "g1", r, "g2", 2, cfg).write.format("noop").mode("overwrite").save()
    }
    assert(local == Seq(slots), s"knnJoin shuffle-reading stages' tasks: $local")

    // pass 1 runs while knnJoinExact is built; its other shuffle readers
    // are small planning aggregates
    var exact: DataFrame = null
    val built = shuffleStageTasks {
      exact = SpatialJoin.knnJoinExact(l, "g1", "id1", r, "g2", 2, Seq("id2"), cfg)
    }
    assert(built.count(_ == slots) == 1, s"knnJoinExact build's shuffle-reading stages: $built")
    assert(exact.select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect().toSet ==
      bruteExact(a, b, 2))
  }

  test("every kNN entry point rejects colliding column names") {
    val a = frame(Seq(1L -> point(0, 0)), "id", "g")
    val b = frame(Seq(2L -> point(1, 1)), "id", "g2")
    val calls = Seq[(String, () => DataFrame)](
      "join" -> (() => SpatialJoin.join(a, "g", b, "g2")),
      "knnJoin" -> (() => SpatialJoin.knnJoin(a, "g", b, "g2", 1)),
      "knnJoinExact" -> (() => SpatialJoin.knnJoinExact(a, "g", "id", b, "g2", 1)))
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("column name collision between join sides"), s"$name: $e")
    }
  }

  test("a tiled knnJoinExact evaluates each input once per row, through either probe") {
    import org.apache.spark.sql.functions.{col, udf}
    // a parquet input behind an always-true filter that counts its
    // evaluations: Catalyst keeps the filter in every plan scanning it
    def counted(rows: Seq[(Long, Array[Byte])], id: String, g: String) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_knn_once").toString + "/in"
      frame(rows, id, g).write.parquet(dir)
      val evals = spark.sparkContext.longAccumulator(dir)
      val pass = udf { (_: Long) => evals.add(1); true }
      (spark.read.parquet(dir).where(pass(col(id))), evals)
    }
    val rnd = new Random(9)
    val a = (0 until 120).map(i => (i.toLong, point(rnd.nextDouble() * 30, rnd.nextDouble() * 30)))
    val b = (0 until 60).map(i => (i.toLong, point(rnd.nextDouble() * 30, rnd.nextDouble() * 30)))
    for (probeCollectMax <- Seq(1000000L, 0L)) {
      val (l, lEvals) = counted(a, "id1", "g1"); val (r, rEvals) = counted(b, "id2", "g2")
      val got = SpatialJoin.knnJoinExact(l, "g1", "id1", r, "g2", 3, tieBreak = Seq("id2"),
          cfg = SpatialJoin.Config(bucket = 16, knnBroadcastThreshold = 0,
            probeCollectMax = probeCollectMax))
        .select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect()
      assert(got.toSet == bruteExact(a, b, 3))
      assert((lEvals.value, rEvals.value) == (120L, 60L),
        s"probeCollectMax $probeCollectMax: input rows evaluated ${lEvals.value}, ${rEvals.value}")
    }
  }

  test("a tiled knnJoinExact registers nothing in the session's CacheManager") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // the shared test session may hold other suites' cached frames
    spark.catalog.clearCache()
    val rnd = new Random(3)
    val a = (0 until 100).map(i => (i.toLong, point(rnd.nextDouble() * 30, rnd.nextDouble() * 30)))
    val b = (0 until 40).map(i => (i.toLong, point(rnd.nextDouble() * 30, rnd.nextDouble() * 30)))
    val out = SpatialJoin.knnJoinExact(frame(a, "id1", "g1"), "g1", "id1",
      frame(b, "id2", "g2"), "g2", 3, tieBreak = Seq("id2"),
      cfg = SpatialJoin.Config(bucket = 16, knnBroadcastThreshold = 0))
    assert(cache.isEmpty, "knnJoinExact cached an intermediate in the CacheManager")
    assert(out.select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect().toSet ==
      bruteExact(a, b, 3))
  }
}
