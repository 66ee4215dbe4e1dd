package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.core.Geo
import graft.functions._
import graft.sources.WktTsvSource

class ExtendedOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("WktTsvSource: reads reference-format TSV, parses WKT once, drops bad rows") {
    val dir = Files.createTempDirectory("graft_tsv")
    val f = dir.resolve("data.tsv")
    Files.writeString(f,
      "1\tPOINT (1 2)\talpha\n" +
      "2\tPOLYGON((0 0,2 0,2 2,0 2,0 0))\tbeta\n" +
      "3\tnot-a-geometry\tgamma\n" +
      "4\t\tdelta\n")
    val df = WktTsvSource.read(spark, f.toString, shpIdx = 2)
    assert(df.columns.toSeq == Seq("f1", "f2", "f3", "geom"))
    // every field a nullable string, then the nullable WKB geometry
    assert(df.schema == StructType(Seq("f1", "f2", "f3").map(StructField(_, StringType)) :+
      StructField("geom", BinaryType)))
    // one st_geomfromwkt in the optimized plan: the malformed-row drop must
    // not become a pushed-down filter that parses every row again
    def parses(d: org.apache.spark.sql.DataFrame) = d.queryExecution.optimizedPlan.collect {
      case p => p.expressions.map(_.collect { case e: StGeomFromWkt => e }.size).sum
    }.sum
    assert(parses(df) == 1, df.queryExecution.optimizedPlan)
    assert(df.count() == 2) // malformed + empty dropped
    val kept = df.select("f1").as[String].collect().toSet
    assert(kept == Set("1", "2"))
    val areas = df.select(st_area(col("geom"))).as[Double].collect().sorted
    assert(areas.toSeq == Seq(0.0, 4.0))

    val lax = WktTsvSource.read(spark, f.toString, shpIdx = 2, dropMalformed = false)
    assert(lax.count() == 4)
    assert(lax.schema == df.schema && parses(lax) == 1)

    // roundtrip write
    val out = dir.resolve("out").toString
    WktTsvSource.write(df, out, shpIdx = 2)
    val back = WktTsvSource.read(spark, out, shpIdx = 2)
    assert(back.count() == 2)
  }

  test("selfJoin: mirrored-pair skip vs replicate semantics") {
    val boxes = (0 until 50).map { i =>
      val x = (i % 10) * 3.0
      (i.toLong, s"POLYGON(($x 0,${x + 4} 0,${x + 4} 4,$x 4,$x 0))")
    }
    val df = boxes.toDF("id", "wkt").withColumn("geom", st_geomfromwkt(col("wkt"))).drop("wkt")
    val once = SpatialJoin.selfJoin(df, "geom", "id",
      cfg = SpatialJoin.Config(bucket = 20)).select("l_id", "r_id")
      .as[(Long, Long)].collect()
    val both = SpatialJoin.selfJoin(df, "geom", "id", replicate = true,
      cfg = SpatialJoin.Config(bucket = 20)).count()
    assert(once.forall { case (a, b) => a < b })
    assert(both == 2L * once.length)
  }

  test("earth-mode dwithin uses haversine for point pairs") {
    // two points ~111 km apart (1 degree latitude at the equator)
    val a = Seq((1L, "POINT (0 0)")).toDF("ida", "wa")
      .withColumn("ga", st_geomfromwkt(col("wa"))).drop("wa")
    val b = Seq((2L, "POINT (0 1)")).toDF("idb", "wb")
      .withColumn("gb", st_geomfromwkt(col("wb"))).drop("wb")
    val dMeters = Geo.haversineMeters(0, 0, 0, 1)
    assert(dMeters > 100000 && dMeters < 120000)
    def run(thresh: Double) = SpatialJoin.join(a, "ga", b, "gb",
      SpatialJoin.Config(predicate = "dwithin", distance = thresh, earth = true,
        bucket = 10)).count()
    assert(run(dMeters + 1) == 1)
    assert(run(dMeters - 1) == 0)
  }

  test("earth-mode dwithin: degree-window candidates == brute-force haversine") {
    // r17: the probe envelope now expands by the conservative DEGREE
    // equivalent of the meter distance (latitude-aware), not by
    // meters-as-degrees. Equality against the brute-force cross join is
    // the safety proof at test scale; the grid includes HIGH latitudes,
    // where a naive fixed lon window (= the lat window) would MISS pairs
    // whose lon gap in degrees is large but whose metric gap is small.
    val pts = for (i <- 0 until 12; j <- 0 until 8) yield
      (i * 8L + j, -3.0 + i * 1.1, 62.0 + j * 3.4) // lats 62..85.8
    val a = pts.toDF("ida", "lona", "lata")
      .withColumn("ga", st_point(col("lona"), col("lata")))
    val b = pts.map { case (id, lon, lat) => (id + 1000, lon + 0.9, lat + 0.3) }
      .toDF("idb", "lonb", "latb")
      .withColumn("gb", st_point(col("lonb"), col("latb")))
    val d = 150000.0 // 150 km: at lat 85 that is ~15 degrees of longitude
    val joined = SpatialJoin.join(
        a.select("ida", "ga"), "ga", b.select("idb", "gb"), "gb",
        SpatialJoin.Config(predicate = "dwithin", distance = d, earth = true,
          bucket = 16))
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val brute = (for {
      (ia, lon1, lat1) <- pts
      (ib, lon2, lat2) <- pts.map { case (id, lo, la) => (id + 1000, lo + 0.9, la + 0.3) }
      if Geo.haversineMeters(lon1, lat1, lon2, lat2) <= d
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty && brute.size < pts.size * pts.size)
    assert(joined == brute)
  }

  test("earth-mode dwithin across the antimeridian == brute-force haversine") {
    // probe windows at lon ±179.9 cross ±180: a pair 0.2 degrees of
    // longitude apart across the antimeridian must stay a candidate, at
    // latitudes where the window also takes Geo.lonDegrees' 360 branch
    val lats = Seq(85.0, 86.5, 88.0, 89.5)
    val lons = Seq(179.9, -179.9, 179.3, -178.8)
    val pts = for {
      (lat, i) <- (lats ++ lats.map(-_)).zipWithIndex
      (lon, j) <- lons.zipWithIndex
    } yield (i * 10L + j, lon, lat)
    val other = pts.map { case (id, lon, lat) =>
      (id + 1000, -lon, lat - math.signum(lat) * 0.1) }
    val a = pts.toDF("ida", "lona", "lata")
      .withColumn("ga", st_point(col("lona"), col("lata")))
    val b = other.toDF("idb", "lonb", "latb")
      .withColumn("gb", st_point(col("lonb"), col("latb")))
    for (d <- Seq(20000.0, 300000.0)) {
      val joined = SpatialJoin.join(
          a.select("ida", "ga"), "ga", b.select("idb", "gb"), "gb",
          SpatialJoin.Config(predicate = "dwithin", distance = d, earth = true,
            bucket = 8))
        .select("ida", "idb").as[(Long, Long)].collect().toSet
      val brute = (for {
        (ia, lon1, lat1) <- pts
        (ib, lon2, lat2) <- other
        if Geo.haversineMeters(lon1, lat1, lon2, lat2) <= d
      } yield (ia, ib)).toSet
      val lonOf = (pts ++ other).map(p => p._1 -> p._2).toMap
      assert(brute.exists { case (ia, ib) => lonOf(ia) * lonOf(ib) < 0 },
        "the fixture must hold pairs across the antimeridian")
      assert(joined == brute, s"d=$d")
    }
  }

  test("earth-mode dwithin rejects non-point geometries") {
    // planar fallback would compare degree-unit distance against a meter
    // threshold row-by-row — fail loudly instead
    val a = Seq((1L, "POLYGON((0 0,1 0,1 1,0 1,0 0))")).toDF("ida", "wa")
      .withColumn("ga", st_geomfromwkt(col("wa"))).drop("wa")
    val b = Seq((2L, "POINT (0 1)")).toDF("idb", "wb")
      .withColumn("gb", st_geomfromwkt(col("wb"))).drop("wb")
    val ex = intercept[Exception] {
      SpatialJoin.join(a, "ga", b, "gb",
        SpatialJoin.Config(predicate = "dwithin", distance = 1e6, earth = true,
          bucket = 10)).count()
    }
    assert(ex.getMessage != null)
  }

  test("temporal interval predicates") {
    def iv(ps: (Long, Long)*) = ps.map { case (s, e) => (s, e) }
    val df = Seq((1L, Seq((0L, 10L), (20L, 30L)), Seq((12L, 15L))),
                 (2L, Seq((0L, 10L), (20L, 30L)), Seq((5L, 9L))),
                 (3L, Seq((0L, 10L)), Seq((8L, 12L)))).toDF("id", "raw_a", "raw_b")
      .withColumn("a", expr("transform(raw_a, x -> struct(x._1 as start, x._2 as end))"))
      .withColumn("b", expr("transform(raw_b, x -> struct(x._1 as start, x._2 as end))"))
    val r = df.select(col("id"),
      intervals_overlap(col("a"), col("b")),
      intervals_contain(col("a"), col("b")),
      intervals_mindist(col("a"), col("b"))).orderBy("id").collect()
    assert(r(0).getBoolean(1) === false) // [12,15] in gap
    assert(r(0).getBoolean(2) === false)
    assert(r(0).getLong(3) == 2)         // 12 - 10
    assert(r(1).getBoolean(1) === true)  // [5,9] inside [0,10]
    assert(r(1).getBoolean(2) === true)
    assert(r(1).getLong(3) == 0)
    assert(r(2).getBoolean(1) === true)  // [8,12] overlaps [0,10], not contained
    assert(r(2).getBoolean(2) === false)
    assert(r(2).getLong(3) == 0)
  }

  test("st_snaptogrid: snaps coordinates, nulls collapsed boxes") {
    val df = Seq("POLYGON((10 10,11 10,11 20,10 20,10 10))", // x collapses at cell 7
                 "POLYGON((0 0,10 0,10 10,0 10,0 0))")
      .toDF("wkt").withColumn("g", st_geomfromwkt(col("wkt")))
    val r = df.select(st_astext(st_snaptogrid(col("g"), lit(7.0)))).collect()
    // 10/7 -> 1.43 -> 7; 11/7 -> 1.57 -> 14: survives. second box snaps cleanly
    assert(r(0).getString(0).contains("7"))
    assert(r(1).getString(0) == "POLYGON ((0 0, 7 0, 7 7, 0 7, 0 0))")
    val collapsed = Seq("POLYGON((20 0,21 0,21 10,20 10,20 0))") // 20->21, 21->21
      .toDF("wkt").select(st_snaptogrid(st_geomfromwkt(col("wkt")), lit(7.0)))
      .head()
    assert(collapsed.isNullAt(0))
  }

  test("two-level partitioning splits hot tiles and join stays exact") {
    val rnd = new scala.util.Random(31)
    // 80% of points in a hot 10x10 corner
    val pts = (0 until 1200).map { i =>
      val (x, y) =
        if (i % 5 != 0) (rnd.nextDouble() * 10, rnd.nextDouble() * 10)
        else (rnd.nextDouble() * 100, rnd.nextDouble() * 50)
      (i.toLong, s"POINT ($x $y)")
    }
    val a = pts.toDF("id1", "w").withColumn("g1", st_geomfromwkt(col("w"))).drop("w")
    val b = pts.toDF("id2", "w").withColumn("g2", st_geomfromwkt(col("w"))).drop("w")
    val flat = SpatialJoin.join(a, "g1", b, "g2",
      SpatialJoin.Config(predicate = "dwithin", distance = 1.0, bucket = 100))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val nested = SpatialJoin.join(a, "g1", b, "g2",
      SpatialJoin.Config(predicate = "dwithin", distance = 1.0, bucket = 100,
        twoLevel = true))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(nested == flat, "two-level tiling changed join results")

    // and the nested planner actually produces more tiles over the hot spot
    import org.apache.spark.sql.DataFrame
    def tiles(twoLevel: Boolean): Int = {
      val l = a.withColumn("__env", st_envelope(col("g1")))
        .select(col("__env.xmin").as("__xmin"), col("__env.ymin").as("__ymin"),
          col("__env.xmax").as("__xmax"), col("__env.ymax").as("__ymax"))
      SpatialJoin.planTiles(l, l.limit(0),
        SpatialJoin.Config(bucket = 100, twoLevel = twoLevel)).tiles.length
    }
    assert(tiles(twoLevel = true) > tiles(twoLevel = false))
  }

  test("asofJoin: latest prior right per key, equal-ts visible, no-prior nulls, deterministic ties") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, "l-a"),   // sees r at 90
      (1L, 90L, "l-b"),    // equal ts: right at 90 IS visible
      (1L, 50L, "l-c"),    // no prior right -> nulls
      (2L, 100L, "l-d"),   // ties at ts=80: lexicographically greatest payload wins
      (3L, 10L, "l-e")     // key with no right rows at all
    ).toDF("uid", "ts", "lval")
    val right = Seq(
      (1L, 90L, "r-x"),
      (1L, 60L, "r-y"),
      (2L, 80L, "r-m"),
      (2L, 80L, "r-z")
    ).toDF("uid", "ts", "rval")
    for (parts <- Seq(1, 7)) {
      val got = AsofJoin.asofJoin(
          left.repartition(parts), right.repartition(parts),
          Seq("uid"), "ts", "ts")
        .as[(Long, Long, String, Option[Long], Option[String])]
        .collect().toSet
      assert(got == Set(
        (1L, 100L, "l-a", Some(90L), Some("r-x")),
        (1L, 90L, "l-b", Some(90L), Some("r-x")),
        (1L, 50L, "l-c", None, None),
        (2L, 100L, "l-d", Some(80L), Some("r-z")),
        (3L, 10L, "l-e", None, None)), s"parts=$parts: $got")
    }
    // null timestamps have no as-of position: a null-ts right row matches
    // nothing (it would otherwise sort nulls-first as "earliest"); a
    // null-ts left row is kept with null right columns
    val gotN = AsofJoin.asofJoin(
        Seq((Some(9L), Some(5L), "ln"), (Some(9L), None, "l-null"))
          .toDF("uid", "ts", "lval"),
        Seq((Some(9L), None, "r-null"), (Some(9L), Some(3L), "r-ok"))
          .toDF("uid", "ts", "rval"),
        Seq("uid"), "ts", "ts")
      .as[(Long, Option[Long], String, Option[Long], Option[String])]
      .collect().map(r => r._3 -> ((r._4, r._5))).toMap
    assert(gotN("ln") == ((Some(3L), Some("r-ok"))),
      "null-ts right row must never be the match")
    assert(gotN("l-null") == ((None, None)),
      "null-ts left row keeps its row with null right columns")

    // differential vs the naive range-join + max-per-left formulation on
    // random data (tie-free so both formulations are deterministic)
    val rnd = new scala.util.Random(5)
    val bigL = Seq.fill(300)((rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong * 2, "L" + rnd.nextInt(1000)))
      .toDF("uid", "ts", "lval")
    val bigR = Seq.fill(300)((rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong * 2 + 1, "R" + rnd.nextInt(1000)))
      .distinct.toDF("uid", "ts", "rval")
    val gotBig = AsofJoin.asofJoin(bigL, bigR, Seq("uid"), "ts", "ts")
      .as[(Long, Long, String, Option[Long], Option[String])].collect().toSet
    val naive = {
      val pairs = bigL.as("l").join(bigR.as("r"),
          $"l.uid" === $"r.uid" && $"r.ts" <= $"l.ts", "left")
        .select($"l.uid".as("uid"), $"l.ts".as("ts"), $"l.lval".as("lval"),
          $"r.ts".as("r_ts"), $"r.rval".as("r_rval"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"uid", $"ts", $"lval")
        .orderBy($"r_ts".desc_nulls_last, $"r_rval".desc_nulls_last)
      pairs.withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .drop("rn")
        .as[(Long, Long, String, Option[Long], Option[String])].collect().toSet
    }
    assert(gotBig == naive)
  }
}
