package graft.api

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.GeometryCodec
import graft.functions._
import graft.operators.SpatialJoin
import graft.sources.WktTsvSource

class FieldsAndSourcesSpec extends SparkTestBase {
  import spark.implicits._

  test("fluent text-pipeline chaining == the explicit operator calls") {
    import graft.api._
    val docs = (0L until 60L).map(id =>
        (id, s"h${id % 5}",
          s"<p>the quick brown fox jumps over the lazy dog number $id " +
            "and the story goes on with many more words to say here</p>"))
      .toDF("doc_id", "host", "html")
    val fluent = docs.stripHtml("html", "text")
      .qualityFilter("text", graft.text.QualityFilter.Rules(
        5, 100, 1.0, 9.0, 0.01))
      .capPerHost("host", "doc_id", 6)
      .assignSplits("doc_id", Seq("train" -> 0.9, "eval" -> 0.1))
      .chunkByTokens("doc_id", "text", 8, 2)
    val explicitForm = graft.text.TextChunk.chunkByTokens(
      graft.text.CorpusSplit.assignSplits(
        graft.text.HostCurate.capPerHost(
          graft.text.QualityFilter.filter(
            docs.withColumn("text",
              graft.functions.strip_html(col("html"))),
            "text", graft.text.QualityFilter.Rules(5, 100, 1.0, 9.0, 0.01)),
          "host", "doc_id", 6),
        "doc_id", Seq("train" -> 0.9, "eval" -> 0.1)),
      "doc_id", "text", 8, 2)
    assert(fluent.collect().map(_.toSeq).toSet ==
      explicitForm.collect().map(_.toSeq).toSet)
    assert(fluent.count() > 0)
  }

  test("Fields: reference --fields projection over a self-join output") {
    val df = Seq(
      (1L, "POLYGON((0 0,2 0,2 2,0 2,0 0))"),
      (2L, "POLYGON((1 1,3 1,3 3,1 3,1 1))"),
      (3L, "POLYGON((10 10,11 10,11 11,10 11,10 10))"))
      .toDF("id", "wkt").withColumn("geom", st_geomfromwkt(col("wkt"))).drop("wkt")
    val joined = SpatialJoin.selfJoin(df, "geom", "id",
      cfg = SpatialJoin.Config(bucket = 10))
    val out = Fields.project(joined, "1:1,2:1,area1,intersect,jaccard,dice,mindist")
    assert(out.columns.toSeq ==
      Seq("l_id", "r_id", "area1", "intersect_area", "jaccard", "dice", "mindist"))
    val r = out.orderBy("l_id").head()
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getDouble(2) == 4.0)       // area1
    assert(r.getDouble(3) == 1.0)       // intersect
    assert(r.getDouble(4) == 1.0 / 7.0) // jaccard
    assert(r.getDouble(5) == 0.25)      // dice
    assert(r.getDouble(6) == 0.0)       // mindist
    assert(out.count() == 1)            // pair (3) is disjoint

    intercept[IllegalArgumentException] {
      Fields.parse("bogus", Seq("a"), Seq("b"), "g1", "g2")
    }
  }

  test("Fields: tileid emits the owning tile under keepTile, -1 otherwise") {
    val df = Seq(
      (1L, "POLYGON((0 0,2 0,2 2,0 2,0 0))"),
      (2L, "POLYGON((1 1,3 1,3 3,1 3,1 1))"),
      (3L, "POLYGON((10 10,12 10,12 12,10 12,10 10))"),
      (4L, "POLYGON((11 11,13 11,13 13,11 13,11 11))"))
      .toDF("id", "wkt").withColumn("geom", st_geomfromwkt(col("wkt"))).drop("wkt")
    // no tile column in the frame -> reference placeholder -1
    val plain = SpatialJoin.selfJoin(df, "geom", "id",
      cfg = SpatialJoin.Config(bucket = 2))
    val noTile = Fields.project(plain, "1:1,2:1,tileid")
    assert(noTile.select("tileid").distinct().collect().map(_.getInt(0)).toSeq == Seq(-1))
    // keepTile=true carries the emitting tile (resque_2d.cpp:448)
    val kept = SpatialJoin.selfJoin(df, "geom", "id",
      cfg = SpatialJoin.Config(bucket = 2, keepTile = true))
    assert(kept.columns.contains("tile_id"))
    val rows = Fields.project(kept, "1:1,2:1,tileid").collect()
    assert(rows.length == 2) // (1,2) and (3,4)
    assert(rows.forall(_.getInt(2) >= 0), "owning tile id must be a real tile")
    // join results themselves are unchanged by keepTile
    assert(kept.drop("tile_id").orderBy("l_id").collect().toSeq ==
           plain.orderBy("l_id").collect().toSeq)
  }

  test("MBB record scan drops the -1 space trailer (reference --mbbread)") {
    val dir = Files.createTempDirectory("graft_mbb")
    Files.writeString(dir.resolve("m.tsv"),
      "a\t0.0\t0.0\t2.0\t2.0\nb\t1.5\t1.5\t4.0\t4.0\n-1\t0.0\t0.0\t4.0\t4.0\n")
    val df = WktTsvSource.readMbb(spark, dir.toString)
    assert(df.count() == 2)
    val withTrailer = WktTsvSource.readMbb(spark, dir.toString, dropTrailer = false)
    assert(withTrailer.count() == 3)
    val env = df.agg(min("xmin"), max("xmax")).head()
    assert(env.getDouble(0) == 0.0 && env.getDouble(1) == 4.0)
  }

  test("whole-file binary input feeds the multimodal pipeline (S4)") {
    val dir = Files.createTempDirectory("graft_bin")
    Files.write(dir.resolve("img1.bin"), Array.fill[Byte](64)(1))
    Files.write(dir.resolve("img2.bin"), Array.fill[Byte](128)(2))
    val df = spark.read.format("binaryFile").load(dir.toString)
      .select(col("path"), col("content"))
    assert(df.count() == 2)
    val feats = graft.multimodal.Multimodal.withFeatures(
      graft.multimodal.Multimodal.withMediaMeta(df, "content", "image/png"),
      "content")
    val rows = feats.select("media_meta.width", "features").collect()
    assert(rows.forall(_.getSeq[Float](1).length == graft.multimodal.Multimodal.FeatureDim))
  }

  test("tiled exact kNN stays correct on band-skewed right side (diag fallback)") {
    val rnd = new scala.util.Random(77)
    // left spread over the full space; right squeezed into a bottom band so
    // most owner tiles hold < k right rows (radius falls back to the diag)
    val pa = (0 until 300).map(i =>
      (i.toLong, s"POINT (${rnd.nextDouble() * 100} ${rnd.nextDouble() * 100})"))
    val pb = (0 until 60).map(i =>
      (i.toLong, s"POINT (${rnd.nextDouble() * 100} ${rnd.nextDouble() * 5})"))
    val a = pa.toDF("id1", "w").withColumn("g1", st_geomfromwkt(col("w"))).drop("w")
    val b = pb.toDF("id2", "w").withColumn("g2", st_geomfromwkt(col("w"))).drop("w")
    val got = SpatialJoin.knnJoinExact(a, "g1", b, "g2", k = 3,
        tieBreak = Seq("id2"),
        cfg = SpatialJoin.Config(bucket = 40, knnBroadcastThreshold = 0))
      .select("id1", "id2").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val gb = pb.map { case (i, w) => (i, GeometryCodec.fromWkt(w)) }
    val want = pa.map { case (i, w) =>
      val g1 = GeometryCodec.fromWkt(w)
      i -> gb.map { case (j, g2) => (g1.distance(g2), j) }
        .sortBy(identity).take(3).map(_._2).toSet
    }.toMap
    assert(got == want)
  }
}
