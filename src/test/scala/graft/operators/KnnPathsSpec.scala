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
  * ([[SpatialJoin.KnnTile]]) and refine on [[SpatialJoin.join]]'s slots,
  * in the one operator SQL `st_nearest`/`st_nearest2` joins run too.
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

  /** Global top-k by (distance, right id), kept while the distance is
    * below `maxD`: (left id, right id, rank). */
  private def bruteExact(a: Seq[(Long, Array[Byte])], b: Seq[(Long, Array[Byte])],
                         k: Int, maxD: Double = Double.PositiveInfinity): Set[(Long, Long, Int)] = {
    val gb = parse(b)
    parse(a).flatMap { case (i, g1) =>
      gb.map { case (j, g2) => (g1.distance(g2), j) }.sorted.take(k).zipWithIndex
        .collect { case ((d, j), r) if d < maxD => (i, j, r + 1) }
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

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.registerAll(spark)
    org.apache.spark.sql.graft.SpatialJoinStrategy.install(spark)
  }

  private def withJoinConf[T](bucket: Int, threshold: Int)(body: => T): T =
    try {
      spark.conf.set("graft.join.bucket", bucket.toString)
      spark.conf.set("graft.knn.broadcastThreshold", threshold.toString)
      body
    } finally {
      spark.conf.unset("graft.join.bucket")
      spark.conf.unset("graft.knn.broadcastThreshold")
    }

  private def same[T](what: String, got: Seq[T], want: Set[T]): Unit = {
    assert(got.length == got.toSet.size, s"$what: duplicate rows")
    assert(got.toSet == want, s"$what: missing=${(want -- got.toSet).take(5)} " +
      s"extra=${(got.toSet -- want).take(5)}")
  }

  /** Runs every kNN path on `a` x `b` and checks each against brute force:
    * knnJoinExact and knnJoinBounded on the tiled and the broadcast path,
    * each with the collected and the relational probe; SQL st_nearest on
    * both paths, unbounded, and bounded with a residual conjunct in the
    * swapped orientation; knnJoin and SQL st_nearest2 against the
    * tile-local brute force. */
  private def checkAllPaths(a: Seq[(Long, Array[Byte])], b: Seq[(Long, Array[Byte])],
                            k: Int, bucket: Int, maxD: Double = 2.3): Unit = {
    val l = frame(a, "id1", "g1"); val r = frame(b, "id2", "g2")
    l.createOrReplaceTempView("kp_l"); r.createOrReplaceTempView("kp_r")
    val want = bruteExact(a, b, k)
    val residual = (i: Long, j: Long) => (i + j) % 3 != 0
    val wantSql = bruteExact(a, b, k, maxD).collect { case (i, j, _) if residual(i, j) => (i, j) }
    def ranked(df: DataFrame) = df.select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect().toSeq
    for ((path, threshold) <- Seq("tiled" -> 0, "broadcast" -> 10000)) {
      for (probeCollectMax <- Seq(0L, SpatialJoin.Config().probeCollectMax)) {
        val cfg = SpatialJoin.Config(bucket = bucket, knnBroadcastThreshold = threshold,
          probeCollectMax = probeCollectMax)
        val what = s"$path, probeCollectMax $probeCollectMax"
        same(s"knnJoinExact $what",
          ranked(SpatialJoin.knnJoinExact(l, "g1", r, "g2", k, tieBreak = Seq("id2"), cfg = cfg)),
          want)
        same(s"knnJoinBounded $what",
          ranked(SpatialJoin.knnJoinBounded(l, "g1", r, "g2", k, maxD, tieBreak = Seq("id2"),
            cfg = cfg)),
          bruteExact(a, b, k, maxD))
      }
      withJoinConf(bucket, threshold) {
        same(s"SQL st_nearest $path",
          spark.sql(s"SELECT id1, id2 FROM kp_l JOIN kp_r ON st_nearest(g1, g2, $k)")
            .as[(Long, Long)].collect().toSeq,
          want.map { case (i, j, _) => (i, j) })
        same(s"SQL bounded st_nearest with a residual, swapped, $path",
          spark.sql(s"SELECT id1, id2 FROM kp_r JOIN kp_l ON st_nearest(g1, g2, $k, ${maxD}D) " +
            "AND (id1 + id2) % 3 <> 0").as[(Long, Long)].collect().toSeq,
          wantSql)
      }
    }
    val cfg = SpatialJoin.Config(bucket = bucket)
    val wantLocal = bruteTileLocal(a, b, k, cfg)
    val local = SpatialJoin.knnJoin(l, "g1", r, "g2", k, cfg)
      .select("id1", "knn_dist").as[(Long, Double)].collect()
      .groupBy(_._1).map { case (i, ds) => i -> ds.map(_._2).sorted.toSeq }
    assert(local == wantLocal, "knnJoin")
    val (ga, gb) = (parse(a).toMap, parse(b).toMap)
    val sqlLocal = withJoinConf(bucket, 10000) {
      spark.sql(s"SELECT id1, id2 FROM kp_l JOIN kp_r ON st_nearest2(g1, g2, $k)")
        .as[(Long, Long)].collect()
    }.groupBy(_._1).map { case (i, js) => i -> js.map(p => ga(i).distance(gb(p._2))).sorted.toSeq }
    assert(sqlLocal == wantLocal, "SQL st_nearest2")
  }

  test("property: every kNN path == brute force on lattice ties, junk geometry, empty and small right sides") {
    // integer lattice rights and half-integer lattice lefts: distances tie
    // at the k boundary; each side sometimes empty or carrying rows whose
    // geometry is null, unparseable, empty or non-finite
    val junk = Seq(null.asInstanceOf[Array[Byte]], Array[Byte](9, 9), empty,
      point(3, Double.NaN), point(Double.PositiveInfinity, 5))
    def side(n: Int, half: Boolean): Gen[Seq[(Long, Array[Byte])]] = {
      val geom = Gen.frequency(
        8 -> Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9)).map { case (x, y) =>
          if (half) point(x + 0.5, y) else point(x, y) },
        1 -> Gen.oneOf(junk))
      Gen.chooseNum(0, n).flatMap(Gen.listOfN(_, geom))
        .map(_.zipWithIndex.map { case (g, i) => (i.toLong, g) })
    }
    val prop = Prop.forAll(side(40, half = true), side(30, half = false),
        Gen.choose(1, 6), Gen.oneOf(8, 16)) { (a, b, k, bucket) =>
      checkAllPaths(a, b, k, bucket)
      true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6).withWorkers(1), prop)
    assert(res.passed, res.toString)
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

    // knnJoinExact runs nothing until the action; there pass 1 and pass 2
    // each refine in one task per tile (the last stage reads the rank
    // reduce beside pass 1's safe rows)
    var got: Set[(Long, Long, Int)] = null
    val exact = shuffleStageTasks {
      got = SpatialJoin.knnJoinExact(l, "g1", r, "g2", 2, Seq("id2"), cfg)
        .select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect().toSet
    }
    assert(exact.count(_ == slots) == 2, s"knnJoinExact shuffle-reading stages' tasks: $exact")
    assert(got == bruteExact(a, b, 2))
  }

  test("knnJoinExact ranks distance ties by a binary tie-break column on both paths") {
    // rights on the integer lattice, lefts at cell centres: four rights tie
    // at each left's nearest distance. The keys are distinct, and half have
    // a first byte past 127, so signed and unsigned byte orders differ
    val b = for (x <- 0 until 6; y <- 0 until 6)
      yield ((x * 6 + y).toLong, point(x, y), Array(((x * 6 + y) * 37).toByte, 7.toByte))
    val a = for (x <- 0 until 5; y <- 0 until 5) yield ((x * 5 + y).toLong, point(x + 0.5, y + 0.5))
    val l = frame(a, "id1", "g1"); val r = b.toDF("id2", "g2", "b2")
    val byKey = Ordering.Tuple2(Ordering.Double.TotalOrdering,
      Ordering.fromLessThan[Array[Byte]](java.util.Arrays.compareUnsigned(_, _) < 0))
    val rights = b.map { case (j, w, key) => (j, GeometryCodec.fromWkb(w), key) }
    val want = parse(a).flatMap { case (i, g1) =>
      rights.sortBy { case (_, g2, key) => (g1.distance(g2), key) }(byKey).take(3).zipWithIndex
        .map { case ((j, _, _), rank) => (i, j, rank + 1) }
    }.toSet
    for (threshold <- Seq(0, 10000)) {
      val got = SpatialJoin.knnJoinExact(l, "g1", r, "g2", 3, tieBreak = Seq("b2"),
          cfg = SpatialJoin.Config(bucket = 16, knnBroadcastThreshold = threshold))
        .select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect().toSeq
      same(s"threshold $threshold", got, want)
    }
  }

  test("knnJoinExact answers left rows that share an id each on their own") {
    // 240 lefts, each id used twice, and rights clustered in one corner, so
    // nearly every left row reaches pass 2
    val rnd = new Random(5)
    val a = (0 until 240).map(i => ((i / 2).toLong, point(rnd.nextDouble() * 100, rnd.nextDouble() * 100)))
    val b = (0 until 60).map(i => (i.toLong, point(rnd.nextDouble() * 5, rnd.nextDouble() * 5)))
    val gb = parse(b)
    val want = parse(a).flatMap { case (i, g1) =>
      gb.map { case (j, g2) => (g1.distance(g2), j) }.sorted.take(3).zipWithIndex
        .map { case ((d, j), rank) => (i, j, rank + 1, d) }
    }.sorted
    for (threshold <- Seq(0, 10000)) {
      val got = SpatialJoin.knnJoinExact(frame(a, "id1", "g1"), "g1", frame(b, "id2", "g2"), "g2", 3,
          tieBreak = Seq("id2"), cfg = SpatialJoin.Config(bucket = 20, knnBroadcastThreshold = threshold))
        .select("id1", "id2", "knn_rank", "knn_dist").as[(Long, Long, Int, Double)].collect().toSeq.sorted
      assert(got == want, s"threshold $threshold: ${got.length} rows, want ${want.length}")
    }
  }

  test("every kNN entry point rejects colliding column names") {
    val a = frame(Seq(1L -> point(0, 0)), "id", "g")
    val b = frame(Seq(2L -> point(1, 1)), "id", "g2")
    val calls = Seq[(String, () => DataFrame)](
      "join" -> (() => SpatialJoin.join(a, "g", b, "g2")),
      "knnJoin" -> (() => SpatialJoin.knnJoin(a, "g", b, "g2", 1)),
      "knnJoinExact" -> (() => SpatialJoin.knnJoinExact(a, "g", b, "g2", 1)))
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
      val got = SpatialJoin.knnJoinExact(l, "g1", r, "g2", 3, tieBreak = Seq("id2"),
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
    val out = SpatialJoin.knnJoinExact(frame(a, "id1", "g1"), "g1",
      frame(b, "id2", "g2"), "g2", 3, tieBreak = Seq("id2"),
      cfg = SpatialJoin.Config(bucket = 16, knnBroadcastThreshold = 0))
    assert(cache.isEmpty, "knnJoinExact cached an intermediate in the CacheManager")
    assert(out.select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect().toSet ==
      bruteExact(a, b, 3))
  }
}
