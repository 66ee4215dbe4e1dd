package graft.sources

import graft.SparkTestBase

class WarcSourceSpec extends SparkTestBase {
  import spark.implicits._

  test("WARC write -> read round-trips response records with the HTTP split") {
    val docs = (0L until 100L).map(i =>
        (s"https://h${i % 7}.example.com/doc/$i", "2026-01-02T03:04:05Z",
          200, "text/plain; charset=utf-8",
          s"body text $i é中".getBytes("UTF-8")))
      .toDF("target_uri", "warc_date", "http_status", "http_content_type", "body")
    val path = SparkTestBase.targetPath("warc_spec/rt")
    WarcSource.write(docs.repartition(3), path)
    val got = WarcSource.read(spark, path).collect()
    val resp = got.filter(_.record_type == "response")
    assert(resp.length == 100)
    assert(got.count(_.record_type == "warcinfo") == 3) // one per partition
    val byUri = resp.map(r => r.target_uri -> new String(r.body, "UTF-8")).toMap
    assert(byUri("https://h1.example.com/doc/1") == "body text 1 é中")
    assert(resp.forall(_.http_status == 200))
    assert(resp.forall(_.http_content_type == "text/plain; charset=utf-8"))
    assert(resp.forall(_.warc_date == "2026-01-02T03:04:05Z"))
    // warcinfo records carry the raw payload, no HTTP fields
    assert(got.filter(_.record_type == "warcinfo")
      .forall(r => r.http_status == -1 && r.http_content_type == null &&
        new String(r.body, "UTF-8") == "software: graft\r\n"))
  }

  test("lenient read stops a file at the last well-formed record; strict throws") {
    val dir = new java.io.File(SparkTestBase.targetPath("warc_spec/trunc"))
    dir.mkdirs()
    val good = "WARC/1.0\r\nWARC-Type: resource\r\nWARC-Date: d\r\n" +
      "Content-Type: text/plain\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n"
    val bad = "WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 100\r\n\r\nshort"
    java.nio.file.Files.write(new java.io.File(dir, "t.warc").toPath,
      (good + bad).getBytes("UTF-8"))
    val got = WarcSource.read(spark, dir.getPath + "/t.warc").collect()
    assert(got.length == 1)
    assert(new String(got(0).body, "UTF-8") == "hello")
    assert(got(0).record_type == "resource" && got(0).http_status == -1)
    val e = intercept[org.apache.spark.SparkException] {
      WarcSource.read(spark, dir.getPath + "/t.warc", lenient = false).collect()
    }
    assert(e.getMessage.contains("truncated") ||
      Option(e.getCause).exists(_.getMessage.contains("truncated")))
  }

  test("a Content-Length beyond maxRecordBytes is rejected before allocation") {
    val dir = new java.io.File(SparkTestBase.targetPath("warc_spec/huge"))
    dir.mkdirs()
    val huge = "WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 999999999999\r\n\r\n"
    java.nio.file.Files.write(new java.io.File(dir, "h.warc").toPath,
      huge.getBytes("UTF-8"))
    // lenient: the file contributes nothing instead of reserving heap
    assert(WarcSource.read(spark, dir.getPath + "/h.warc").collect().isEmpty)
  }

  test("lenient read skips unopenable files (empty .gz, missing path); strict throws") {
    val dir = new java.io.File(SparkTestBase.targetPath("warc_spec/badopen"))
    dir.mkdirs()
    val good = "WARC/1.0\r\nWARC-Type: resource\r\nWARC-Date: d\r\n" +
      "Content-Type: text/plain\r\nContent-Length: 2\r\n\r\nok\r\n\r\n"
    java.nio.file.Files.write(new java.io.File(dir, "g.warc").toPath,
      good.getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "empty.warc.gz").toPath,
      Array.empty[Byte]) // gzip header read fails at open
    val files = Seq(s"${dir.getPath}/g.warc", s"${dir.getPath}/empty.warc.gz",
      s"${dir.getPath}/does_not_exist.warc")
    val got = WarcSource.readFiles(spark, files).collect()
    assert(got.length == 1 && new String(got(0).body, "UTF-8") == "ok")
    intercept[org.apache.spark.SparkException] {
      WarcSource.readFiles(spark, files, lenient = false).collect()
    }
  }

  test("a binary non-WARC file is rejected by the line bound, not buffered whole") {
    val dir = new java.io.File(SparkTestBase.targetPath("warc_spec/binary"))
    dir.mkdirs()
    // 4 MB of newline-free bytes: must reject at the 1 MB line bound
    java.nio.file.Files.write(new java.io.File(dir, "b.warc").toPath,
      Array.fill[Byte](4 << 20)('A'))
    assert(WarcSource.read(spark, dir.getPath + "/b.warc").collect().isEmpty)
  }

  test("WARC-Record-IDs are unique across records and part files") {
    val docs = (0L until 30L).map(i =>
        (s"https://example.com/same", "2026-01-01T00:00:00Z", 200,
          "text/plain", s"b$i".getBytes("UTF-8")))
      .toDF("target_uri", "warc_date", "http_status", "http_content_type", "body")
    val path = SparkTestBase.targetPath("warc_spec/ids")
    WarcSource.write(docs.repartition(3), path)
    val ids = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).flatMap { f =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.FileInputStream(f))
        val text = new String(in.readAllBytes(), "UTF-8")
        in.close()
        "WARC-Record-ID: (\\S+)".r.findAllMatchIn(text).map(_.group(1))
      }
    assert(ids.length == 33) // 30 responses + 3 warcinfo
    assert(ids.distinct.length == 33) // same uri+date everywhere, still unique
  }

  test("a response payload without an HTTP separator comes back whole, status -1") {
    val dir = new java.io.File(SparkTestBase.targetPath("warc_spec/nohttp"))
    dir.mkdirs()
    val rec = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://x.example.com/\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      "Content-Length: 7\r\n\r\nrawdata\r\n\r\n"
    java.nio.file.Files.write(new java.io.File(dir, "n.warc").toPath,
      rec.getBytes("UTF-8"))
    val got = WarcSource.read(spark, dir.getPath + "/n.warc").collect()
    assert(got.length == 1 && got(0).http_status == -1 &&
      new String(got(0).body, "UTF-8") == "rawdata")
  }
}
