package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.WarcSource

/** Manifest-driven foreachBatch crawl ingest == its batch twin. */
class WarcIngestSpec extends SparkTestBase {
  import spark.implicits._

  private def writeWarc(path: String, pages: Seq[(String, String)]): String = {
    val df = pages.toDF("target_uri", "html").select(
      col("target_uri"), lit("2026-01-01T00:00:00Z").as("warc_date"),
      lit(200).as("http_status"), lit("text/html").as("http_content_type"),
      encode(col("html"), "UTF-8").as("body"))
    WarcSource.write(df.coalesce(1), path)
    new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head.getPath
  }

  test("manifest stream: within-batch + cross-batch URL dedup == batch twin") {
    val base = SparkTestBase.targetPath(s"warc_ingest_${System.nanoTime()}")
    val f1 = writeWarc(s"$base/w1", Seq(
      ("HTTPS://WWW.A.COM/x/?utm_s=1", "<p>page x</p>"),
      ("https://a.com/x", "<p>page x dup</p>"), // same canon, in one batch
      ("https://a.com/y?b=1", "<p>page y</p>")))
    val f2 = writeWarc(s"$base/w2", Seq(
      ("https://a.com/x?gclid=g", "<p>page x again</p>"), // canon stored
      ("https://b.com/z", "<p>page z</p>")))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val q = WarcIngest.start(stream.toDF(),
      s"$base/out", s"$base/seen", s"$base/ckpt")
    try {
      stream.addData(f1); q.processAllAvailable()
      stream.addData(f2); q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$base/out").select("url_canon", "text")
      .as[(String, String)].collect().toMap
    assert(out.keySet ==
      Set("https://a.com/x", "https://a.com/y?b=1", "https://b.com/z"))
    // within-batch survivor = lexicographically-first RAW url (uppercase
    // sorts before lowercase), and its html is what got stripped
    assert(out("https://a.com/x") == "page x")
    assert(out("https://a.com/y?b=1") == "page y")
    assert(out("https://b.com/z") == "page z")
    // the seen store holds exactly the survivors' canonical keys
    assert(spark.read.parquet(s"$base/seen").as[String].collect().toSet ==
      out.keySet)
    // batch twin: the same two refreshes via processBatch match exactly
    WarcIngest.processBatch(spark, Seq(f1), s"$base/out_b", s"$base/seen_b")
    WarcIngest.processBatch(spark, Seq(f2), s"$base/out_b", s"$base/seen_b")
    val twin = spark.read.parquet(s"$base/out_b").select("url_canon", "text")
      .as[(String, String)].collect().toMap
    assert(twin == out)
  }

  test("same raw URL crawled twice in one drop: survivor is the smaller body hash") {
    val base = SparkTestBase.targetPath(s"warc_ingest_${System.nanoTime()}")
    val bodies = Seq("<p>fetch one</p>", "<p>fetch two</p>")
    val f = writeWarc(s"$base/w", bodies.map(("https://a.com/p", _)))
    WarcIngest.processBatch(spark, Seq(f), s"$base/out", s"$base/seen")
    val out = spark.read.parquet(s"$base/out")
      .select("text").as[String].collect()
    val expected = bodies.minBy { b =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(b.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(out.toSeq == Seq(graft.functions.HtmlStrip.strip(
      org.apache.spark.unsafe.types.UTF8String.fromString(expected)).toString))
  }

  test("robots politeness: disallowed pages enter neither corpus nor seen store") {
    import graft.text.Robots
    val base = SparkTestBase.targetPath(s"warc_ingest_${System.nanoTime()}")
    val f = writeWarc(s"$base/w", Seq(
      ("https://a.com/private/x", "<p>secret</p>"),
      ("https://a.com/private/pub/ok", "<p>open enough</p>"),
      ("https://a.com/docs/d", "<p>docs</p>"),
      ("https://b.com:443/private/y", "<p>other host</p>"))) // no robots on b
    val rules = Robots.parseRules(
      Seq(("a.com", "User-agent: *\nDisallow: /private/\nAllow: /private/pub\n"))
        .toDF("host", "text"), "host", "text", "graftbot")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val q = WarcIngest.start(stream.toDF(), s"$base/out", s"$base/seen",
      s"$base/ckpt", robotsRules = Some(rules))
    try { stream.addData(f); q.processAllAvailable() } finally q.stop()
    val got = spark.read.parquet(s"$base/out").select("url_canon")
      .as[String].collect().toSet
    // b.com's :443 canonicalizes away and, with no robots row, passes;
    // a.com/private/x is the only disallowed page
    assert(got == Set("https://a.com/private/pub/ok", "https://a.com/docs/d",
      "https://b.com/private/y"))
    assert(spark.read.parquet(s"$base/seen").as[String].collect().toSet == got,
      "a disallowed page must not claim its canonical key either")
    // batch twin under the same rules matches
    WarcIngest.processBatch(spark, Seq(f), s"$base/out_b", s"$base/seen_b",
      robotsRules = Some(rules))
    assert(spark.read.parquet(s"$base/out_b").select("url_canon")
      .as[String].collect().toSet == got)
  }

  test("empty manifest batches and blank lines are no-ops") {
    val base = SparkTestBase.targetPath(s"warc_ingest_${System.nanoTime()}")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val q = WarcIngest.start(stream.toDF(),
      s"$base/out", s"$base/seen", s"$base/ckpt")
    try {
      stream.addData("  "); q.processAllAvailable()
    } finally q.stop()
    assert(!new java.io.File(s"$base/out").exists() ||
      spark.read.parquet(s"$base/out").count() == 0)
  }
}
