package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{SpatialJoinExec, SpatialJoinStrategy}

import graft.SparkTestBase
import graft.core.GeometryCodec
import graft.functions._

class SpatialJoinStrategySpec extends SparkTestBase {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (!spark.experimental.extraStrategies.contains(SpatialJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ SpatialJoinStrategy
    registerAll(spark)
  }

  private def boxes(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 60; val y = rnd.nextDouble() * 30
      (i.toLong, s"POLYGON(($x $y,${x + 3} $y,${x + 3} ${y + 3},$x ${y + 3},$x $y))")
    }
  }

  test("SQL st_intersects join plans as SpatialJoinExec and matches brute force") {
    val la = boxes(250, 5); val lb = boxes(300, 6)
    la.toDF("ida", "wa").withColumn("ga", st_geomfromwkt(col("wa")))
      .createOrReplaceTempView("ta")
    lb.toDF("idb", "wb").withColumn("gb", st_geomfromwkt(col("wb")))
      .createOrReplaceTempView("tb")

    val q = spark.sql(
      "SELECT ida, idb FROM ta JOIN tb ON st_intersects(ga, gb) AND ida <> idb")
    val hasExec = q.queryExecution.executedPlan.collect {
      case e: SpatialJoinExec => e
    }.nonEmpty
    assert(hasExec, s"expected SpatialJoinExec in:\n${q.queryExecution.executedPlan}")

    val got = q.as[(Long, Long)].collect().toSet
    val want = (for {
      (i, wa) <- la; (j, wb) <- lb
      if i != j && GeometryCodec.fromWkt(wa).intersects(GeometryCodec.fromWkt(wb))
    } yield (i, j)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("swapped contains rewrites to within; dwithin literal distance works") {
    val pts = (0 until 200).map { i => (i.toLong, s"POINT (${i % 40} ${i % 17})") }
    pts.toDF("idp", "wp").withColumn("gp", st_geomfromwkt(col("wp")))
      .createOrReplaceTempView("tp")
    boxes(100, 7).toDF("idb2", "wb2").withColumn("gb2", st_geomfromwkt(col("wb2")))
      .createOrReplaceTempView("tb2")

    // geometry args ordered (right, left): strategy must swap contains->within
    val q1 = spark.sql(
      "SELECT idp, idb2 FROM tp JOIN tb2 ON st_contains(gb2, gp)")
    assert(q1.queryExecution.executedPlan.collect { case e: SpatialJoinExec => e }.nonEmpty)
    val got1 = q1.as[(Long, Long)].collect().toSet
    val want1 = (for {
      (i, wp) <- pts; (j, wb) <- boxes(100, 7)
      if GeometryCodec.fromWkt(wb).contains(GeometryCodec.fromWkt(wp))
    } yield (i, j)).toSet
    assert(got1 == want1)

    val q2 = spark.sql(
      "SELECT idp, idb2 FROM tp JOIN tb2 ON st_dwithin(gp, gb2, 2.0D)")
    assert(q2.queryExecution.executedPlan.collect { case e: SpatialJoinExec => e }.nonEmpty)
    val got2 = q2.as[(Long, Long)].collect().toSet
    val want2 = (for {
      (i, wp) <- pts; (j, wb) <- boxes(100, 7)
      if GeometryCodec.fromWkt(wp).isWithinDistance(GeometryCodec.fromWkt(wb), 2.0)
    } yield (i, j)).toSet
    assert(got2 == want2)
  }

  test("st_disjoint joins are left to the default planner (all-pairs semantics)") {
    // the tiled exec only sees envelope-overlapping candidates in shared
    // tiles — planning disjoint there would silently drop almost every
    // truly-disjoint pair, so the strategy must not match it
    val q = spark.sql(
      "SELECT a.ida, b.idb FROM ta a JOIN tb b ON st_disjoint(a.ga, b.gb)")
    assert(q.queryExecution.executedPlan.collect { case e: SpatialJoinExec => e }.isEmpty,
      "st_disjoint must not plan as the tile-local SpatialJoinExec")
    val la = boxes(250, 5); val lb = boxes(300, 6)
    val want = (for {
      (i, wa) <- la; (j, wb) <- lb
      if GeometryCodec.fromWkt(wa).disjoint(GeometryCodec.fromWkt(wb))
    } yield (i, j)).size
    assert(q.count() == want)
  }

  test("non-spatial joins are left to the default planner") {
    val q = spark.sql("SELECT a.ida FROM ta a JOIN ta b ON a.ida = b.ida")
    assert(q.queryExecution.executedPlan.collect { case e: SpatialJoinExec => e }.isEmpty)
    assert(q.count() == 250)
  }

  test("NOT EXISTS / EXISTS st_intersects plan as tiled semi/anti and match brute force") {
    val la = boxes(220, 11); val lb = boxes(180, 12)
    la.toDF("ida", "wa").withColumn("ga", st_geomfromwkt(col("wa")))
      .createOrReplaceTempView("sa")
    lb.toDF("idb", "wb").withColumn("gb", st_geomfromwkt(col("wb")))
      .createOrReplaceTempView("sb")

    val anti = spark.sql(
      "SELECT ida FROM sa WHERE NOT EXISTS (SELECT 1 FROM sb WHERE st_intersects(ga, gb))")
    assert(anti.queryExecution.executedPlan.collect {
      case e: SpatialJoinExec => e
    }.nonEmpty, s"expected tiled anti in:\n${anti.queryExecution.executedPlan}")
    val semi = spark.sql(
      "SELECT ida FROM sa WHERE EXISTS (SELECT 1 FROM sb WHERE st_intersects(ga, gb))")
    assert(semi.queryExecution.executedPlan.collect {
      case e: SpatialJoinExec => e
    }.nonEmpty, s"expected tiled semi in:\n${semi.queryExecution.executedPlan}")

    val matched = (for {
      (i, wa) <- la
      if lb.exists { case (_, wb) =>
        GeometryCodec.fromWkt(wa).intersects(GeometryCodec.fromWkt(wb)) }
    } yield i).toSet
    assert(semi.as[Long].collect().toSet == matched)
    assert(anti.as[Long].collect().toSet == la.map(_._1).toSet -- matched)

    // null-geometry left rows match nothing: ANTI keeps them, SEMI drops
    (la.take(5).map { case (i, w) => (i, w) } :+ (999L, "not-a-wkt"))
      .toDF("ida", "wa").withColumn("ga", st_geomfromwkt(col("wa")))
      .createOrReplaceTempView("sn")
    val antiN = spark.sql(
      "SELECT ida FROM sn WHERE NOT EXISTS (SELECT 1 FROM sb WHERE st_intersects(ga, gb))")
    val semiN = spark.sql(
      "SELECT ida FROM sn WHERE EXISTS (SELECT 1 FROM sb WHERE st_intersects(ga, gb))")
    val first5 = la.take(5).map(_._1).toSet
    assert(antiN.as[Long].collect().toSet == (first5 -- matched) + 999L)
    assert(semiN.as[Long].collect().toSet == first5.intersect(matched))
  }

  /** Integer-lattice boxes and points (so touches and boundary cases
    * occur), plus one invalid-WKT and one null-WKT row. */
  private def lattice(n: Int, seed: Long, nullIds: (Long, Long)) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x = rnd.nextInt(30); val y = rnd.nextInt(15)
      val w = 1 + rnd.nextInt(3); val h = 1 + rnd.nextInt(3)
      (i.toLong,
        if (i % 3 == 0) s"POINT ($x $y)"
        else s"POLYGON(($x $y,${x + w} $y,${x + w} ${y + h},$x ${y + h},$x $y))")
    } ++ Seq((nullIds._1, "not-a-wkt"), (nullIds._2, null: String))
  }

  private def geomFrame(rows: Seq[(Long, String)], id: String, g: String) =
    rows.toDF(id, "w").withColumn(g, st_geomfromwkt(col("w"))).drop("w")

  private def jts(w: String): Seq[org.locationtech.jts.geom.Geometry] =
    Option(w).flatMap(s => scala.util.Try(GeometryCodec.fromWkt(s)).toOption)
      .filter(_ != null).toSeq

  private def bruteInner(la: Seq[(Long, String)], lb: Seq[(Long, String)],
                         p: (org.locationtech.jts.geom.Geometry,
                             org.locationtech.jts.geom.Geometry) => Boolean) =
    (for {
      (i, wa) <- la; ga <- jts(wa); (j, wb) <- lb; gb <- jts(wb) if p(ga, gb)
    } yield (i, j)).toSet

  private def execs(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect { case e: SpatialJoinExec => e }

  test("SQL == SpatialJoin.join == brute force: predicates, orientations, null geometry, empty side, hot spot") {
    import graft.operators.SpatialJoin
    import org.locationtech.jts.geom.Geometry
    val la = lattice(180, 41, (900L, 901L)); val lb = lattice(160, 42, (950L, 951L))
    val a = geomFrame(la, "ida", "ga"); val b = geomFrame(lb, "idb", "gb")
    a.createOrReplaceTempView("da"); b.createOrReplaceTempView("db")
    // an empty side the optimizer cannot fold away (not a LocalRelation)
    b.where(col("idb") < 0).localCheckpoint().createOrReplaceTempView("de")

    def check(sql: String, engine: => org.apache.spark.sql.DataFrame,
              want: Set[(Long, Long)]): Unit = {
      val q = spark.sql(sql)
      assert(execs(q).nonEmpty, s"expected SpatialJoinExec for: $sql")
      val got = q.as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate pairs for: $sql")
      val eng = engine.select(col("ida"), col("idb")).as[(Long, Long)].collect().toSet
      assert(eng == want, s"engine vs brute for $sql: missing=${(want -- eng).take(5)} extra=${(eng -- want).take(5)}")
      assert(got.toSet == want, s"SQL vs brute for $sql: missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
    }

    // (SQL condition over da ⋈ db, engine predicate for (ga, gb), distance, brute)
    val cases: Seq[(String, String, Double, (Geometry, Geometry) => Boolean)] = Seq(
      ("st_intersects(ga, gb)", "intersects", 0.0, _.intersects(_)),
      ("st_contains(ga, gb)", "contains", 0.0, _.contains(_)),
      ("st_contains(gb, ga)", "within", 0.0, (x, y) => y.contains(x)),
      ("st_within(ga, gb)", "within", 0.0, _.within(_)),
      ("st_within(gb, ga)", "contains", 0.0, (x, y) => y.within(x)),
      ("st_touches(ga, gb)", "touches", 0.0, _.touches(_)),
      ("st_equals(ga, gb)", "equals", 0.0, _.equalsTopo(_)),
      ("st_dwithin(ga, gb, 1.5D)", "dwithin", 1.5, _.isWithinDistance(_, 1.5)))
    cases.foreach { case (cond, pred, d, p) =>
      val want = bruteInner(la, lb, p)
      assert(want.nonEmpty, s"fixture exercises nothing for $cond")
      check(s"SELECT ida, idb FROM da JOIN db ON $cond",
        SpatialJoin.join(a, "ga", b, "gb", SpatialJoin.Config(predicate = pred, distance = d)),
        want)
    }
    check("SELECT ida, idb FROM da JOIN de ON st_intersects(ga, gb)",
      SpatialJoin.join(a, "ga", b.where(col("idb") < 0), "gb"), Set.empty[(Long, Long)])

    // hot spot: more than hotTileFactor × bucket left rows at one point,
    // which the tiled engine salts across shards
    val bucket = 16
    val hotRows = SpatialJoin.Config().hotTileFactor * bucket + 100
    val lh = la ++ (0 until hotRows).map(i => (2000L + i, "POINT (10 7)"))
    val h = geomFrame(lh, "ida", "ga")
    h.createOrReplaceTempView("dh")
    val wantHot = bruteInner(lh, lb, _.intersects(_))
    assert(wantHot.count(_._1 >= 2000) >= hotRows, "the hot point must hit a B geometry")
    try {
      spark.conf.set("graft.join.bucket", bucket.toString)
      check("SELECT ida, idb FROM dh JOIN db ON st_intersects(ga, gb)",
        SpatialJoin.join(h, "ga", b, "gb", SpatialJoin.Config(bucket = bucket)), wantHot)
    } finally spark.conf.unset("graft.join.bucket")
  }

  test("EXISTS / NOT EXISTS with a residual conjunct, null geometry and an empty side: SQL == engine == brute force") {
    import graft.operators.SpatialJoin
    val la = lattice(150, 43, (900L, 901L)); val lb = lattice(140, 44, (950L, 951L))
    val a = geomFrame(la, "ida", "ga"); val b = geomFrame(lb, "idb", "gb")
    a.createOrReplaceTempView("xa"); b.createOrReplaceTempView("xb")
    b.where(col("idb") < 0).localCheckpoint().createOrReplaceTempView("xe")
    val all = la.map(_._1).toSet

    def verdicts(sub: String, matched: Set[Long]): Unit =
      Seq("EXISTS" -> matched, "NOT EXISTS" -> (all -- matched)).foreach { case (op, want) =>
        val q = spark.sql(s"SELECT ida FROM xa WHERE $op ($sub)")
        assert(execs(q).nonEmpty, s"expected the tiled semi/anti for $op ($sub)")
        val got = q.as[Long].collect()
        assert(got.length == got.toSet.size, s"duplicate rows for $op ($sub)")
        assert(got.toSet == want,
          s"$op ($sub): missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
      }

    // residual reads both sides; the engine's pairs + the residual agree
    val residual = "(ida + idb) % 3 <> 0"
    val matched = bruteInner(la, lb, _.intersects(_))
      .collect { case (i, j) if (i + j) % 3 != 0 => i }
    assert(matched.nonEmpty && matched != all.filter(_ < 900))
    val engine = SpatialJoin.join(a, "ga", b, "gb")
      .where(expr(residual)).select("ida").as[Long].collect().toSet
    assert(engine == matched)
    verdicts(s"SELECT 1 FROM xb WHERE st_intersects(ga, gb) AND $residual", matched)
    // empty subquery side: nothing matches, every left row (null geometry
    // included) is NOT EXISTS
    verdicts("SELECT 1 FROM xe WHERE st_intersects(ga, gb)", Set.empty[Long])
  }

  test("a SQL spatial join validates the planning-time tuning conf") {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    try {
      spark.conf.set("graft.join.bucket", "-1")
      val e = intercept[Exception] {
        spark.sql("SELECT ida, idb FROM ta JOIN tb ON st_intersects(ga, gb)").collect()
      }
      assert(messages(e).exists(_.contains("bucket must be >= 0")), s"unexpected error: $e")
    } finally spark.conf.unset("graft.join.bucket")
  }

  test("SQL spatial and tiled kNN joins leave no persisted RDD behind") {
    points(120, 27).toDF("idc", "wc").withColumn("gc", st_geomfromwkt(col("wc")))
      .createOrReplaceTempView("lk_c")
    points(60, 28).toDF("ids", "ws").withColumn("gs", st_geomfromwkt(col("ws")))
      .createOrReplaceTempView("lk_s")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      spark.conf.set("graft.knn.broadcastThreshold", "0")
      spark.sql("SELECT idc, ids FROM lk_c JOIN lk_s ON st_nearest(gc, gs, 3)").collect()
    } finally spark.conf.unset("graft.knn.broadcastThreshold")
    spark.sql("SELECT ida, idb FROM ta JOIN tb ON st_intersects(ga, gb)").collect()
    spark.sql("SELECT ida FROM sa WHERE NOT EXISTS (SELECT 1 FROM sb WHERE st_intersects(ga, gb))")
      .collect()
    // releases run on the asynchronous listener bus: poll briefly
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while ((sc.getPersistentRDDs.keySet -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted RDDs left behind: ${left.flatMap(sc.getPersistentRDDs.get)}")
  }

  private def points(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, s"POINT (${rnd.nextInt(60)} ${rnd.nextInt(30)})")
    }
  }

  /** brute-force kNN set: for each probe, the k nearest index ids with ties
    * broken by (distance, id) — the deterministic order the exec ties with
    * (id is the first atomic right column). */
  private def bruteKnn(probes: Seq[(Long, String)], index: Seq[(Long, String)],
                       k: Int, maxD: Double = Double.PositiveInfinity) =
    (for {
      (i, wp) <- probes
      gp = GeometryCodec.fromWkt(wp)
      (j, d) <- index.map { case (j, wq) =>
          (j, gp.distance(GeometryCodec.fromWkt(wq))) }
        .sortBy { case (j, d) => (d, j) }.take(k)
      if d < maxD
    } yield (i, j)).toSet

  test("SQL st_nearest join plans as KnnJoinExec and matches brute force") {
    import org.apache.spark.sql.graft.KnnJoinExec
    val probes = points(180, 21); val index = points(90, 22)
    probes.toDF("idc", "wc").withColumn("gc", st_geomfromwkt(col("wc")))
      .createOrReplaceTempView("kc")
    index.toDF("ids", "ws").withColumn("gs", st_geomfromwkt(col("ws")))
      .createOrReplaceTempView("ks")

    val q = spark.sql(
      "SELECT idc, ids FROM kc JOIN ks ON st_nearest(gc, gs, 3)")
    assert(q.queryExecution.executedPlan.collect { case e: KnnJoinExec => e }.nonEmpty,
      s"expected KnnJoinExec in:\n${q.queryExecution.executedPlan}")
    assert(q.count() == 180 * 3) // every probe gets exactly k pairs
    assert(q.as[(Long, Long)].collect().toSet == bruteKnn(probes, index, 3))

    // bounded form: 4th literal arg = strict maxDistance (reference -d)
    val qb = spark.sql(
      "SELECT idc, ids FROM kc JOIN ks ON st_nearest(gc, gs, 3, 2.5)")
    assert(qb.queryExecution.executedPlan.collect { case e: KnnJoinExec => e }.nonEmpty)
    assert(qb.as[(Long, Long)].collect().toSet ==
      bruteKnn(probes, index, 3, maxD = 2.5))

    // residual conjunct applies as a post-kNN filter (SQL conjunction)
    val qr = spark.sql(
      "SELECT idc, ids FROM kc JOIN ks ON st_nearest(gc, gs, 3) AND idc <> ids")
    assert(qr.as[(Long, Long)].collect().toSet ==
      bruteKnn(probes, index, 3).filter { case (i, j) => i != j })
  }

  test("swapped st_nearest orientation probes the SQL-right side; tiled path agrees") {
    import org.apache.spark.sql.graft.KnnJoinExec
    val probes = points(150, 23); val index = points(70, 24)
    probes.toDF("idc", "wc").withColumn("gc", st_geomfromwkt(col("wc")))
      .createOrReplaceTempView("kc2")
    index.toDF("ids", "ws").withColumn("gs", st_geomfromwkt(col("ws")))
      .createOrReplaceTempView("ks2")

    // geometry args (right-side probe, left-side index): the strategy must
    // exchange the exec's sides and project back to SQL column order
    val q = spark.sql(
      "SELECT idc, ids FROM ks2 JOIN kc2 ON st_nearest(gc, gs, 2)")
    assert(q.queryExecution.executedPlan.collect { case e: KnnJoinExec => e }.nonEmpty)
    assert(q.as[(Long, Long)].collect().toSet == bruteKnn(probes, index, 2))

    // force the tiled (non-broadcast) engine path and require agreement
    try {
      spark.conf.set("graft.knn.broadcastThreshold", "0")
      spark.conf.set("graft.join.bucket", "16")
      val qt = spark.sql(
        "SELECT idc, ids FROM kc2 JOIN ks2 ON st_nearest(gc, gs, 2)")
      assert(qt.as[(Long, Long)].collect().toSet == bruteKnn(probes, index, 2))
    } finally {
      spark.conf.unset("graft.knn.broadcastThreshold")
      spark.conf.unset("graft.join.bucket")
    }
  }

  test("SQL st_nearest2 plans tile-local KnnJoinExec, agrees with the programmatic engine, swaps sides") {
    import org.apache.spark.sql.graft.KnnJoinExec
    val probes = points(160, 25); val index = points(80, 26)
    val pdf = probes.toDF("idc", "wc").withColumn("gc", st_geomfromwkt(col("wc")))
    val idf = index.toDF("ids", "ws").withColumn("gs", st_geomfromwkt(col("ws")))
    pdf.createOrReplaceTempView("kt_c")
    idf.createOrReplaceTempView("kt_s")
    try {
      // tile-local results DEPEND on the tiling: pin the same bucket for
      // the SQL plan (runtime conf) and the programmatic engine (cfg)
      spark.conf.set("graft.join.bucket", "16")
      val want = graft.operators.SpatialJoin.knnJoin(pdf, "gc", idf, "gs", 3,
          cfg = graft.operators.SpatialJoin.Config(bucket = 16))
        .select(col("idc"), col("ids")).as[(Long, Long)].collect().toSet

      val q = spark.sql(
        "SELECT idc, ids FROM kt_c JOIN kt_s ON st_nearest2(gc, gs, 3)")
      assert(q.queryExecution.executedPlan.collect {
        case e: KnnJoinExec if e.tileLocal => e }.nonEmpty,
        s"expected tile-local KnnJoinExec in:\n${q.queryExecution.executedPlan}")
      assert(q.as[(Long, Long)].collect().toSet == want)

      // swapped orientation: geometry args name the SQL-right side as the
      // probe — the strategy must exchange exec sides and project back
      val qs = spark.sql(
        "SELECT idc, ids FROM kt_s JOIN kt_c ON st_nearest2(gc, gs, 3)")
      assert(qs.queryExecution.executedPlan.collect {
        case e: KnnJoinExec if e.tileLocal => e }.nonEmpty)
      assert(qs.as[(Long, Long)].collect().toSet == want)
    } finally spark.conf.unset("graft.join.bucket")
  }

  test("st_nearest outside a plannable join fails with the targeted error") {
    val e = intercept[Exception] {
      spark.sql("SELECT st_nearest(gc, gc, 3) FROM kc").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("kNN-join operator")),
      s"unexpected error: $e")
  }
}
