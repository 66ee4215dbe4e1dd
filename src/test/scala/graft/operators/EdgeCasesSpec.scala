package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.GeometryCodec
import graft.functions._

class EdgeCasesSpec extends SparkTestBase {
  import spark.implicits._

  test("mixed geometry types: linestrings x polygons, crosses + intersects") {
    val rnd = new scala.util.Random(55)
    val lines = (0 until 200).map { i =>
      val x = rnd.nextDouble() * 50; val y = rnd.nextDouble() * 25
      (i.toLong, s"LINESTRING($x $y, ${x + 5} ${y + 3})")
    }
    val polys = (0 until 150).map { i =>
      val x = rnd.nextDouble() * 50; val y = rnd.nextDouble() * 25
      (i.toLong, s"POLYGON(($x $y,${x + 3} $y,${x + 3} ${y + 3},$x ${y + 3},$x $y))")
    }
    val a = lines.toDF("id1", "w").withColumn("g1", st_geomfromwkt(col("w"))).drop("w")
    val b = polys.toDF("id2", "w").withColumn("g2", st_geomfromwkt(col("w"))).drop("w")
    for (pred <- Seq("intersects", "crosses")) {
      val got = SpatialJoin.join(a, "g1", b, "g2",
          SpatialJoin.Config(predicate = pred, bucket = 40))
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      val want = (for {
        (i, wl) <- lines; (j, wp) <- polys
        gl = GeometryCodec.fromWkt(wl); gp = GeometryCodec.fromWkt(wp)
        if (pred == "crosses" && gl.crosses(gp)) ||
           (pred == "intersects" && gl.intersects(gp))
      } yield (i, j)).toSet
      assert(got == want, s"$pred on line x polygon mismatch")
      assert(want.nonEmpty, s"weak test: no $pred pairs")
    }
  }

  test("multi-geometries roundtrip and join correctly") {
    val multis = Seq(
      (1L, "MULTIPOLYGON(((0 0,2 0,2 2,0 2,0 0)),((10 10,12 10,12 12,10 12,10 10)))"),
      (2L, "MULTIPOINT((1 1),(11 11))"),
      (3L, "GEOMETRYCOLLECTION(POINT(1 1),POLYGON((5 5,6 5,6 6,5 6,5 5)))"))
    val df = multis.toDF("id", "w").withColumn("g", st_geomfromwkt(col("w"))).drop("w")
    val back = df.select(st_astext(col("g"))).as[String].collect()
    assert(back.forall(_ != null))
    val a = df.select(col("id").as("id1"), col("g").as("g1"))
    val b = df.select(col("id").as("id2"), col("g").as("g2"))
    val got = SpatialJoin.join(a, "g1", b, "g2", SpatialJoin.Config(bucket = 10))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // multipolygon 1 intersects multipoint 2 (both parts), collection 3 at (1,1)
    assert(got.contains((1L, 2L)) && got.contains((2L, 3L)) && got.contains((1L, 3L)))
  }

  test("empty inputs flow through join, knn, dedup without failing") {
    val empty = Seq.empty[(Long, String)].toDF("id1", "w")
      .withColumn("g1", st_geomfromwkt(col("w"))).drop("w")
    val some = Seq((1L, "POINT (1 1)")).toDF("id2", "w")
      .withColumn("g2", st_geomfromwkt(col("w"))).drop("w")
    assert(SpatialJoin.join(empty, "g1", some, "g2").count() == 0)
    assert(SpatialJoin.join(
      some.toDF("id1", "g1"), "g1", empty.toDF("id2", "g2"), "g2").count() == 0)
    assert(SpatialJoin.knnJoin(empty, "g1", some, "g2", 3).count() == 0)
    assert(SpatialJoin.knnJoinExact(empty, "g1", some, "g2", 3).count() == 0)

    val emptyDocs = Seq.empty[(Long, String)].toDF("id", "text")
    assert(graft.dedup.TextDedup.ngramJaccardPairs(emptyDocs, "id", "text", 3, 0.5)
      .count() == 0)
    assert(graft.dedup.TextDedup.simHashPairs(emptyDocs, "id", "text", 3).count() == 0)
  }

  test("round-9b operators survive empty and degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.dedup.TextDedup.dedupSpansAcross(emptyDocs, "doc_id", "text", 5)
      .count() == 0)
    assert(graft.text.TfIdf.tfIdf(emptyDocs, "doc_id", "text").count() == 0)
    assert(graft.text.FrequentItems.heavyHitters(
      emptyDocs.select(col("text").as("word")), "word", 5).count() == 0)
    // as-of with an empty right side: every left row, all-null right cols
    val left = Seq((1L, 10L, "x")).toDF("k", "ts", "v")
    val emptyRight = Seq.empty[(Long, Long, String)].toDF("k", "ts", "rv")
    val asof = graft.operators.AsofJoin.asofJoin(
      left, emptyRight, Seq("k"), "ts", "ts").collect()
    assert(asof.length == 1 && asof(0).isNullAt(3) && asof(0).isNullAt(4))
    // empty bench side: Bloom filter built over zero keys flags nothing
    val trainSh = Seq((1L, 5L)).toDF("doc_id", "s")
    val emptyBench = Seq.empty[Tuple1[Long]].toDF("s")
    assert(graft.text.Decontaminate.flagBloom(trainSh, "doc_id", "s", emptyBench)
      .count() == 0)
    // empty corpus through bm25: no scores, no NPE on the null avg length
    val q = Seq((1L, "spark")).toDF("qid", "term")
    assert(graft.text.TfIdf.bm25(emptyDocs, "doc_id", "text", q, "qid", "term")
      .count() == 0)
    // single-doc span dedup with in-doc repetition: "a b" repeats at
    // start 2 -> tokens {2,3} cut, first occurrence survives
    val one = Seq((7L, "a b a b")).toDF("doc_id", "text")
    assert(graft.dedup.TextDedup.dedupSpansAcross(one, "doc_id", "text", 2)
      .as[(Long, String)].collect().toSeq == Seq((7L, "a b")))
  }

  test("all-null geometries produce empty join, not an error") {
    val bad = Seq((1L, "nope"), (2L, "")).toDF("id1", "w")
      .withColumn("g1", st_geomfromwkt(col("w"))).drop("w")
    val some = Seq((9L, "POINT (0 0)")).toDF("id2", "w")
      .withColumn("g2", st_geomfromwkt(col("w"))).drop("w")
    assert(SpatialJoin.join(bad, "g1", some, "g2").count() == 0)
  }
}
