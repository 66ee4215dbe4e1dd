package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def tsOf(sec: Long): Timestamp = new Timestamp(sec * 1000)

  test("hourlyTypeCounts: incremental over MemoryStream == batch over same data") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, tsOf(100), 1, "click", 1.0), Ev(2, tsOf(200), 1, "click", 5.0),
      Ev(3, tsOf(3700), 2, "view", 2.0), Ev(4, tsOf(3800), 2, "click", 0.5),
      Ev(5, tsOf(7300), 1, "view", 9.0))

    val stream = MemoryStream[Ev]
    stream.addData(events)
    val q = EventOps.hourlyTypeCounts(stream.toDF())
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly_test")
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = EventOps.hourlyTypeCounts(events.toDF())
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.length == 4) // (h0 click), (h1 view), (h1 click), (h2 view)
  }

  test("curation projections (strip/split/chunk) run identically under readStream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // the composed stateless front of an ingest pipeline: html strip ->
    // split assignment -> token-window chunking — all scan-local, so the
    // SAME transform must run incrementally with no changes
    def front(df: DataFrame): DataFrame =
      graft.text.TextChunk.chunkByTokens(
        graft.text.CorpusSplit.assignSplits(
          df.select(col("doc_id"),
            graft.functions.strip_html(col("html")).as("text")),
          "doc_id", Seq("train" -> 0.9, "eval" -> 0.1)),
        "doc_id", "text", size = 5, overlap = 1)
    val docs = (0L until 40L).map(id =>
      (id, s"<p>doc $id</p><script>x</script>" +
        (1 to 11).map(i => s"w$i").mkString("<b>", " ", "</b>")))
    val stream = MemoryStream[(Long, String)]
    val q = front(stream.toDF().toDF("doc_id", "html"))
      .writeStream.format("memory").queryName("curation_front")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(15)); q.processAllAvailable()
      stream.addData(docs.drop(15)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("curation_front")
      .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
    val batch = front(docs.toDF("doc_id", "html"))
      .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.size > docs.size, "chunking must fan out")
  }

  test("dedupByKey: incremental first-occurrence dedup == batch dropDuplicates") {
    implicit val sqlCtx = spark.sqlContext
    // duplicate event_ids arriving across two batches; first occurrence wins
    val batch1 = Seq(
      Ev(1, tsOf(100), 1, "click", 1.0), Ev(2, tsOf(200), 1, "click", 5.0),
      Ev(1, tsOf(100), 1, "click", 1.0))
    val batch2 = Seq(
      Ev(2, tsOf(200), 1, "click", 5.0), Ev(3, tsOf(300), 2, "view", 2.0))

    val stream = MemoryStream[Ev]
    val q = EventOps.dedupByKey(stream.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("dedup_test")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(streamed == Seq(1L, 2L, 3L), "one row per key across microbatches")

    val batch = EventOps.dedupByKey((batch1 ++ batch2).toDF(), Seq("event_id"))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(batch == streamed, "batch twin agrees")
  }

  test("Bloom decontamination prefilter runs incrementally: stream candidates == batch candidates") {
    implicit val sqlCtx = spark.sqlContext
    // a static benchmark Bloom filter applied to a document STREAM: the
    // probe is a stateless scan predicate, so the same expression runs
    // under readStream with no state store and no watermark
    val benchKeys = Seq(10L, 20L, 30L).toDF("s")
    val bf = benchKeys.stat.bloomFilter("s", 3, 0.01)
    val docsShingled = Seq(
      (1L, 10L), (1L, 99L), (2L, 98L), (3L, 30L), (3L, 97L), (4L, 96L))
    val pred = graft.functions.bloom_contains_long(col("s"), bf)
    val stream = MemoryStream[(Long, Long)]
    val q = stream.toDF().toDF("doc_id", "s").where(pred)
      .writeStream.format("memory").queryName("bloom_test")
      .outputMode("append").start()
    try {
      stream.addData(docsShingled.take(3)); q.processAllAvailable()
      stream.addData(docsShingled.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("bloom_test")
      .as[(Long, Long)].collect().toSet
    val batch = docsShingled.toDF("doc_id", "s").where(pred)
      .as[(Long, Long)].collect().toSet
    assert(batch == streamed, "stream and batch prefilters must agree")
    assert(streamed.map(_._1).intersect(Set(1L, 3L)) == Set(1L, 3L),
      "true hits must pass the prefilter")
  }

  test("streamingSessionize closed sessions agree with batchSessionize") {
    implicit val sqlCtx = spark.sqlContext
    val gapMicros = 30L * 60 * 1000000
    // user 1: two sessions (gap 2h); user 2: one session
    val events = Seq(
      Ev(1, tsOf(0), 1, "a", 0), Ev(2, tsOf(60), 1, "a", 0),
      Ev(3, tsOf(7800), 1, "a", 0),
      Ev(4, tsOf(10), 2, "a", 0), Ev(5, tsOf(600), 2, "a", 0))

    val stream = MemoryStream[Ev]
    stream.addData(events)
    val q = EventOps.streamingSessionize(stream.toDF(), gapMicros)
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // append mode emits CLOSED sessions only (open ones wait for timeout):
    // user 1's first session [0, 60] closed when event at 7800s arrived.
    val streamed = spark.table("sess_test")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(streamed == Set((1L, 0L, 60000000L, 2)))

    val batch = EventOps.batchSessionize(events.toDF(), gapMicros)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(batch == Set(
      (1L, 0L, 60000000L, 2), (1L, 7800000000L, 7800000000L, 1),
      (2L, 10000000L, 600000000L, 2)))
    assert(streamed.subsetOf(batch), "closed streaming sessions must appear in batch result")
  }

  // Against the REAL driver testdata (not synthetic rows): the round-7
  // events regression was a testdata ts-schema drift that every synthetic
  // spec missed. This spec routes the actual parquet through the same
  // eventsTable adaptation the gates use, in BOTH batch and readStream
  // mode, so a future drift fails `sbt test` instead of the driver.
  test("real events.parquet: readStream hourlyTypeCounts + sessionize == batch twins") {
    import graft.queries.Queries
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val batchEvents = Queries.eventsTable(spark, dir)
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file stream source wants a directory; link the single file in
    val streamDir = java.nio.file.Files.createTempDirectory("graft_events")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val streamEvents = Queries.adaptEventTs(
      spark.readStream.schema(rawSchema).parquet(streamDir.toString))

    // hourly windowed agg, complete mode: every window emitted
    val hq = EventOps.hourlyTypeCounts(streamEvents)
      .writeStream.format("memory").queryName("hourly_real")
      .outputMode("complete").start()
    try hq.processAllAvailable() finally hq.stop()
    val hStream = spark.table("hourly_real")
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    val hBatch = EventOps.hourlyTypeCounts(batchEvents)
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    assert(hStream.nonEmpty && hStream == hBatch)

    // sessionize, append mode: closed streaming sessions ⊆ batch sessions
    val gapMicros = 30L * 60 * 1000000
    val sq = EventOps.streamingSessionize(streamEvents, gapMicros)
      .writeStream.format("memory").queryName("sess_real")
      .outputMode("append").start()
    try sq.processAllAvailable() finally sq.stop()
    val sStream = spark.table("sess_real")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Long, Long, Int)].collect().toSet
    val sBatch = EventOps.batchSessionize(batchEvents, gapMicros)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(sBatch.nonEmpty)
    assert(sStream.subsetOf(sBatch),
      "closed streaming sessions must appear in the batch result")
  }

  test("attributeWithin: stream-stream interval join == its batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      Ev(10, tsOf(4000), 1, "click", 0), // window [400, 4000]: views 500, 3700
      Ev(11, tsOf(5000), 2, "click", 0), // no prior view for user 2
      Ev(12, tsOf(7300), 1, "click", 0)) // window [3700, 7300]: views 3700, 7200
    val views = Seq(
      Ev(20, tsOf(500), 1, "view", 0),
      Ev(21, tsOf(3700), 1, "view", 0),
      Ev(22, tsOf(7200), 1, "view", 0),
      Ev(23, tsOf(9000), 2, "view", 0)) // after the click: never attributed
    val cs = MemoryStream[Ev]
    val vs = MemoryStream[Ev]
    val q = EventOps.attributeWithin(cs.toDF(), vs.toDF(), within = "1 hour")
      .writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    try {
      // arrival order crosses the streams: views for a click may land later
      vs.addData(views.take(2)); cs.addData(clicks)
      q.processAllAvailable()
      vs.addData(views.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("attr_test").collect().map(_.toSeq).toSet
    val batch = EventOps.attributeWithin(
      clicks.toDF(), views.toDF(), within = "1 hour")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // semantic pins: both window bounds inclusive (3700 == 7300 - 3600),
    // user 2's later view never attributes, user isolation holds
    assert(batch.map(r => (r(2), r(4))) ==
      Set((10L, 20L), (10L, 21L), (12L, 21L), (12L, 22L)))
  }

  /** 200 WKT boxes, one record far outside their space, and the FIXED
    * fg index planned ahead of the stream on the boxes' MBBs. */
  private def ingestFixture(bucket: Int = 30)
      : (Seq[(Long, String)], (Long, String), graft.operators.TileIndex) = {
    import graft.core.{GeometryCodec, Mbb}
    val rnd = new scala.util.Random(31)
    val rows = (0 until 200).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 50
      (i.toLong, s"POLYGON(($x $y,${x + 2} $y,${x + 2} ${y + 2},$x ${y + 2},$x $y))")
    }
    val mbbs = rows.map { case (_, w) =>
      val e = GeometryCodec.fromWkt(w).getEnvelopeInternal
      Mbb(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }.toArray
    val space = mbbs.reduce(_ union _)
    val index = new graft.operators.TileIndex(
      graft.partition.SpatialPartitioner("fg").partition(mbbs, space, bucket), space)
    val far = (999L, "POLYGON((200 200,202 200,202 202,200 202,200 200))")
    (rows, far, index)
  }

  test("SpatialIngest: streamed tile-partitioned store == batch tag; readable by SpatialStore") {
    implicit val sqlCtx = spark.sqlContext
    import graft.core.GeometryCodec
    import graft.sources.SpatialStore

    val (rows, far, index) = ingestFixture()
    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val stream = MemoryStream[(Long, String)]
    val q = SpatialIngest.start(stream.toDF().toDF("id", "wkt"), "wkt", index,
      base + "/store", base + "/ckpt")
    // `far` is a record the planner never saw — outside the historical space
    try {
      stream.addData(rows.take(120))
      q.processAllAvailable()
      stream.addData(rows.drop(120) :+ far) // second microbatch, same tiling
      q.processAllAvailable()
    } finally q.stop()

    // the streamed store behaves exactly like a batch-written one
    val back = SpatialStore.read(spark, base + "/store")
    assert(back.count() == 201)
    assert(back.select("id").as[Long].collect().toSet ==
      (0L until 200L).toSet + 999L)
    // out-of-space record lands in the overflow tile and stays VISIBLE to
    // containment reads (the nearest-tile fallback would hide it from
    // tile-MBB pruning)
    val farWindow = GeometryCodec.toWkb(GeometryCodec.box(195, 195, 210, 210))
    assert(SpatialStore.containmentRead(spark, base + "/store", farWindow)
      .select("id").as[Long].collect().toSet == Set(999L))
    val window = GeometryCodec.toWkb(GeometryCodec.box(20, 10, 50, 30))
    val got = SpatialStore.containmentRead(spark, base + "/store", window)
      .select("id").as[Long].collect().toSet
    val want = rows.filter { case (_, w) =>
      GeometryCodec.fromWkt(w).intersects(GeometryCodec.fromWkb(window))
    }.map(_._1).toSet
    assert(got == want)

    // mode-agnostic transform: streaming tag rows == batch tag rows
    val batchTag = SpatialIngest.tileTag((rows :+ far).toDF("id", "wkt"), "wkt", index)
      .select(col("id"), col(SpatialStore.TileCol))
      .as[(Long, Int)].collect().toSet
    val streamedTag = spark.read.parquet(base + "/store/data")
      .select(col("id"), col(SpatialStore.TileCol).cast("int"))
      .as[(Long, Int)].collect().toSet
    assert(streamedTag == batchTag)
  }

  test("SpatialIngest replay after a crash: reads unchanged") {
    import graft.core.GeometryCodec
    import graft.sources.SpatialStore

    val (rows, far, index) = ingestFixture()
    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    // a replayable file source, one file per microbatch
    rows.take(120).toDF("id", "wkt").coalesce(1).write.parquet(base + "/src")
    (rows.drop(120) :+ far).toDF("id", "wkt").coalesce(1)
      .write.mode("append").parquet(base + "/src")
    def ingest(): Unit = {
      val stream = spark.readStream.schema("id BIGINT, wkt STRING")
        .option("maxFilesPerTrigger", 1).parquet(base + "/src")
      val q = SpatialIngest.start(stream, "wkt", index, base + "/store", base + "/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    def dataFiles(): Int = new java.io.File(base + "/store/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val window = GeometryCodec.toWkb(GeometryCodec.box(20, 10, 50, 30))
    def contained(): Set[Long] =
      SpatialStore.containmentRead(spark, base + "/store", window)
        .select("id").as[Long].collect().toSet

    ingest()
    val filesBefore = dataFiles()
    val containedBefore = contained()
    // a crash after the last batch appended but before its commit: drop
    // its commit entry, and the restart re-runs the batch
    val commits = new java.io.File(base + "/ckpt/commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toInt).max
    assert(last == 1, "the fixture streams two microbatches")
    Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
    ingest()

    assert(dataFiles() > filesBefore, "the replayed batch appended again")
    assert(SpatialStore.read(spark, base + "/store").count() == 201)
    assert(contained() == containedBefore && containedBefore.nonEmpty)
  }

  test("SpatialIngest evaluates each microbatch once per row") {
    val (rows, _, index) = ingestFixture()
    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    rows.toDF("id", "wkt").coalesce(1).write.parquet(base + "/src")
    // an always-true filter counting its evaluations: Catalyst keeps it in
    // every plan that re-runs the batch
    val evals = spark.sparkContext.longAccumulator("ingest_evals")
    val pass = udf { (_: Long) => evals.add(1); true }
    val stream = spark.readStream.schema("id BIGINT, wkt STRING").parquet(base + "/src")
      .where(pass(col("id")))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val q = SpatialIngest.start(stream, "wkt", index, base + "/store", base + "/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(evals.value == rows.length.toLong, "the batch plan ran more than once per row")
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before == Set.empty)
    assert(graft.sources.SpatialStore.read(spark, base + "/store").count() == rows.length)
  }

  test("SpatialIngest.start refuses a store planned with a different tiling") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SpatialStore

    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val (_, _, index) = ingestFixture()
    val (_, _, other) = ingestFixture(bucket = 10)
    SpatialIngest.start(MemoryStream[(Long, String)].toDF().toDF("id", "wkt"),
      "wkt", index, base + "/store", base + "/ckpt").stop()
    val tiles = SpatialStore.readMeta(spark, base + "/store").tiles.toSeq
    val err = intercept[IllegalArgumentException] {
      SpatialIngest.start(MemoryStream[(Long, String)].toDF().toDF("id", "wkt"),
        "wkt", other, base + "/store", base + "/ckpt2")
    }
    assert(err.getMessage.contains("different tiling"))
    // the refusal left the store's meta alone
    assert(SpatialStore.readMeta(spark, base + "/store").tiles.toSeq == tiles)
  }
}
