package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.api._
import graft.core.GeometryCodec
import graft.functions._

class SpatialStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def boxesDf(n: Int) = {
    val rnd = new scala.util.Random(17)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 50
      (i.toLong, x, y)
    }.toDF("id", "x", "y")
      .withColumn("geom", st_makebox(col("x"), col("y"),
        col("x") + lit(2.0), col("y") + lit(2.0)))
  }

  test("partition write -> read roundtrip collapses replicas") {
    val dir = Files.createTempDirectory("graft_store").toString + "/t1"
    val df = boxesDf(500)
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 50))
    val back = SpatialStore.read(spark, dir)
    assert(back.count() == 500)
    assert(back.select("id").as[Long].collect().toSet == (0L until 500L).toSet)
    val meta = SpatialStore.readMeta(spark, dir)
    assert(meta.geomCol == "geom" && meta.tiles.nonEmpty)
  }

  test("content-hash row ids: deterministic across writes, dup lines collapse") {
    val base = Files.createTempDirectory("graft_store").toString
    val df = boxesDf(100)
    // two independent writes of the same data produce the SAME id per row —
    // the property a positional id (monotonically_increasing_id) lacks
    // under stage retry
    SpatialStore.write(df, "geom", base + "/a",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    SpatialStore.write(df, "geom", base + "/b",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    def ids(p: String): Map[Long, Long] =
      spark.read.parquet(p + "/data").select("id", SpatialStore.RowIdCol)
        .distinct().as[(Long, Long)].collect().toMap
    assert(ids(base + "/a") == ids(base + "/b"))
    // value-identical input rows share an id and collapse on read — the
    // reference's full-line uniq semantics (duplicate_remover.cpp:45-63)
    SpatialStore.write(df.unionAll(df.limit(5)), "geom", base + "/c",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    assert(SpatialStore.read(spark, base + "/c").count() == 100)
  }

  test("map-typed attribute columns survive the content-hash row ids") {
    val dir = Files.createTempDirectory("graft_store").toString + "/m1"
    val df = boxesDf(50).withColumn("props",
      map(lit("name"), concat(lit("box"), col("id")), lit("kind"), lit("poly")))
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    val back = SpatialStore.read(spark, dir)
    assert(back.count() == 50)
    assert(back.select(col("props")("name")).as[String].collect().toSet ==
      (0 until 50).map(i => s"box$i").toSet)
  }

  test("nested map columns (in struct and array) hash and round-trip") {
    val dir = Files.createTempDirectory("graft_store").toString + "/m2"
    val df = boxesDf(40)
      .withColumn("meta", struct(
        map(lit("k"), col("id").cast("string")).as("tags"),
        col("id").as("n")))
      .withColumn("hist", array(
        map(lit("a"), col("id")), map(lit("b"), col("id") * 2)))
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    val back = SpatialStore.read(spark, dir)
    assert(back.count() == 40)
    assert(back.select(col("meta")("tags")("k")).as[String].collect().toSet ==
      (0 until 40).map(_.toString).toSet)
    // null struct must keep its own identity (not alias struct-of-nulls)
    val withNull = boxesDf(4).withColumn("meta",
      when(col("id") < 2, struct(map(lit("k"), lit("v")).as("tags"))))
    val ids = SpatialStore.withRowIds(withNull)
      .select(SpatialStore.RowIdCol).distinct().count()
    assert(ids == 4)
  }

  test("preserveDuplicates=true round-trips value-identical rows") {
    val base = Files.createTempDirectory("graft_store").toString
    val df = boxesDf(30)
    SpatialStore.write(df.unionAll(df.limit(5)), "geom", base + "/d",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20),
      preserveDuplicates = true)
    assert(SpatialStore.read(spark, base + "/d").count() == 35)
    // and the duplicated ids appear exactly twice
    val byId = SpatialStore.read(spark, base + "/d")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert((0L until 5L).forall(byId(_) == 2) && (5L until 30L).forall(byId(_) == 1))
  }

  test("containment read prunes tiles and matches direct filter") {
    val dir = Files.createTempDirectory("graft_store").toString + "/t2"
    val df = boxesDf(800)
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 40))

    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val got = SpatialStore.containmentRead(spark, dir, window)
    val want = df.where(st_intersects(col("geom"), lit(window)))
    assert(got.count() == want.count())
    assert(got.select("id").as[Long].collect().toSet ==
           want.select("id").as[Long].collect().toSet)

    // driver pruning engages: the window must not need every tile
    val meta = SpatialStore.readMeta(spark, dir)
    val wantedTiles = meta.tiles
      .filter(t => t.mbb.intersects(graft.core.Mbb(10, 10, 30, 25))).map(_.tileId)
    assert(wantedTiles.length < meta.tiles.length, "window should not span all tiles")

    // a window off the store's space: zero rows, original columns intact
    val off = GeometryCodec.toWkb(GeometryCodec.box(5000, 5000, 5010, 5010))
    val empty = SpatialStore.containmentRead(spark, dir, off)
    assert(empty.count() == 0)
    assert(empty.columns.toSet == df.columns.toSet)
  }

  test("multiWindowRead: one scan matches per-window containment reads") {
    val dir = Files.createTempDirectory("graft_store").toString + "/mw"
    val df = boxesDf(500)
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 50))
    val wins = Seq((0L, 0.0, 0.0), (1L, 30.0, 10.0), (2L, 70.0, 20.0),
        (3L, 95.0, 45.0), (4L, 200.0, 200.0)) // last window hits nothing
      .toDF("wid", "wx", "wy")
      .withColumn("wgeom", st_makebox(col("wx"), col("wy"),
        col("wx") + lit(20.0), col("wy") + lit(15.0)))
    val batch = SpatialStore.multiWindowRead(spark, dir, wins, "wid", "wgeom")
      .select("wid", "id").as[(Long, Long)].collect().toSet
    val oneByOne = wins.select("wid", "wx", "wy").as[(Long, Double, Double)]
      .collect().flatMap { case (wid, wx, wy) =>
        SpatialStore.containmentRead(spark, dir, GeometryCodec.toWkb(
            GeometryCodec.box(wx, wy, wx + 20.0, wy + 15.0)))
          .select("id").as[Long].collect().map(wid -> _)
      }.toSet
    assert(batch == oneByOne)
    assert(!batch.exists(_._1 == 4L))
  }

  test("api implicits: containment + spatialJoin + describeSpatialPartitioning") {
    val df = boxesDf(300)
    val inWin = df.containment("POLYGON((0 0,40 0,40 40,0 40,0 0))")
    assert(inWin.count() > 0 && inWin.count() < 300)

    val right = boxesDf(200).select(col("id").as("rid"), col("geom").as("rgeom"))
    val joined = df.select(col("id"), col("geom"))
      .spatialJoin(right, "geom", "rgeom", bucket = 50)
    assert(joined.count() > 0)

    val (perTile, summary) = df.describeSpatialPartitioning("geom", "fg", 50)
    val s = summary.head()
    assert(s.getAs[Long]("n_tiles") == perTile.count())
    assert(s.getAs[Long]("n_replicated_objects") >= 300)
    assert(s.getAs[Long]("max_objects") >= s.getAs[Long]("min_objects"))

    // store write through the API implicit round-trips
    val cDir = Files.createTempDirectory("graft_store").toString + "/api_c"
    df.spatialPartitionWrite(cDir, "geom", "fg", 50)
    val w = GeometryCodec.toWkb(GeometryCodec.box(0, 0, 40, 40))
    assert(SpatialStore.containmentRead(spark, cDir, w)
      .count() == inWin.count())
  }

  test("GraftExtensions registers functions in a fresh session") {
    val s2 = spark.newSession()
    new graft.GraftExtensions().apply(
      // SparkSessionExtensions is applied at build time normally; simulate by
      // registering into the new session's registry through the same builders
      new org.apache.spark.sql.SparkSessionExtensions {
        override def injectFunction(
            fn: (org.apache.spark.sql.catalyst.FunctionIdentifier,
                 org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                 Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
                   org.apache.spark.sql.catalyst.expressions.Expression)): Unit =
          s2.sessionState.functionRegistry.registerFunction(fn._1, fn._2, fn._3)
      })
    val r = s2.sql("SELECT st_area(st_makebox(0D,0D,3D,3D)) a").head()
    assert(r.getDouble(0) == 9.0)
  }

  test("compact (manifest-committed) layout: same reads, task-count files") {
    val dir = Files.createTempDirectory("graft_store").toString + "/tc"
    val df = boxesDf(800)
    // pin the writer-task count: the `scanned < dataFiles` pruning
    // assertion below needs enough range-clustered files that the small
    // window misses at least one — with very few shuffle partitions every
    // file's tile range could intersect it and the test would depend on
    // the environment's spark.sql.shuffle.partitions
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val got = SpatialStore.containmentRead(spark, dir, window)
      .select("id").as[Long].collect().toSet
    val want = df.where(st_intersects(col("geom"), lit(window)))
      .select("id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // the layout's point: data file count tracks TASKS, not tiles
    val meta = SpatialStore.readMeta(spark, dir)
    val dataFiles = new java.io.File(s"$dir/data").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(meta.tiles.length > dataFiles,
      s"compact layout should write fewer files ($dataFiles) than tiles " +
        s"(${meta.tiles.length})")
    val manifest = spark.read.parquet(s"$dir/_graft_manifest")
    assert(manifest.count() == dataFiles.toLong)
    // manifest file-pruning engages: the window's scan reads a strict
    // subset of the data files (tiles are range-clustered across many
    // files here: 800 boxes / bucket 10 >> one file's tile range)
    val wantedTiles = meta.tiles
      .filter(t => t.mbb.intersects(graft.core.Mbb(10, 10, 30, 25)))
      .map(_.tileId)
    val scanned =
      SpatialStore.manifestRead(spark, dir, wantedTiles.toSeq).inputFiles.length
    assert(scanned < dataFiles, s"manifest pruned $scanned of $dataFiles files")
    // empty window returns empty, not an error
    assert(SpatialStore.containmentRead(spark, dir,
      GeometryCodec.toWkb(GeometryCodec.box(-500, -500, -400, -400))).count() == 0)
    // relocatable: the manifest stores bare file names, not write-time
    // URIs — a moved store must read identically (and not silently read
    // the old location)
    val moved = Files.createTempDirectory("graft_store").toString + "/moved"
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles.foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else Files.copy(src.toPath, dst.toPath)
    }
    cp(new java.io.File(dir), new java.io.File(moved))
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete()
    }
    rmAll(new java.io.File(dir))
    val gotMoved = SpatialStore.containmentRead(spark, moved, window)
      .select("id").as[Long].collect().toSet
    assert(gotMoved == want)
  }

  test("compact layout torn writes: loud failure, re-write heals") {
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete()
    }
    val dir = Files.createTempDirectory("graft_store").toString + "/torn"
    val df = boxesDf(400)
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10)
    SpatialStore.write(df, "geom", dir, cfg)
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val want = df.where(st_intersects(col("geom"), lit(window)))
      .select("id").as[Long].collect().toSet

    // kill between the data write and the FIRST manifest commit: data is
    // present, manifest absent — the read must fail loudly, not fall back
    // to a silent full scan or an opaque path error
    val manifestDir = new java.io.File(s"$dir/_graft_manifest")
    val saved = Files.createTempDirectory("graft_store").toFile
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles.foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else Files.copy(src.toPath, dst.toPath)
    }
    cp(manifestDir, new java.io.File(saved, "_graft_manifest"))
    rmAll(manifestDir)
    val noManifest = intercept[IllegalStateException] {
      SpatialStore.containmentRead(spark, dir, window).count()
    }
    assert(noManifest.getMessage.contains("torn write"))
    // re-running write heals: full answer, no double-counting
    SpatialStore.write(df, "geom", dir, cfg)
    assert(SpatialStore.containmentRead(spark, dir, window)
      .select("id").as[Long].collect().toSet == want)

    // kill between a RE-write's data overwrite (clears data/) and its
    // manifest commit: the surviving manifest names files that no longer
    // exist — simulate by dropping one data file the manifest still names
    val dataDir = new java.io.File(s"$dir/data")
    val victim = dataDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val stale = intercept[IllegalStateException] {
      SpatialStore.containmentRead(spark, dir, window).count()
    }
    assert(stale.getMessage.contains("stale manifest"))
    SpatialStore.write(df, "geom", dir, cfg)
    assert(SpatialStore.containmentRead(spark, dir, window)
      .select("id").as[Long].collect().toSet == want)

    // retired round-13 3-D manifest layout: name the format in the error
    rmAll(new java.io.File(s"$dir/_graft_manifest"))
    cp(new java.io.File(saved, "_graft_manifest"),
       new java.io.File(s"$dir/_graft_manifest3d"))
    val legacy = intercept[IllegalStateException] {
      SpatialStore.containmentRead(spark, dir, window).count()
    }
    assert(legacy.getMessage.contains("_graft_manifest3d"))
  }

  test("manifest without data/ fails loudly (torn opposite half)") {
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete()
    }
    val dir = Files.createTempDirectory("graft_store").toString + "/nodata"
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10)
    SpatialStore.write(boxesDf(200), "geom", dir, cfg)
    rmAll(new java.io.File(s"$dir/data"))
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val err = intercept[IllegalStateException] {
      SpatialStore.containmentRead(spark, dir, window).count()
    }
    assert(err.getMessage.contains("no data/"),
      s"wanted the heal-instructing message, got: ${err.getMessage}")
  }

  test("a tile_id=N/-only path fails with the retired-layout message") {
    // the retired Hive dir layout: a meta plus per-tile dirs, no manifest
    // and no data/ — a read must name the layout and the rebuild instead
    // of an opaque path error
    val dir = Files.createTempDirectory("graft_store").toString + "/dirs"
    val df = boxesDf(100)
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10)
    SpatialStore.write(df, "geom", dir, cfg)
    spark.read.parquet(s"$dir/data").write
      .partitionBy(SpatialStore.TileCol).parquet(s"$dir/legacy")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("data", "_graft_manifest").foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, d), true))
    fs.listStatus(new org.apache.hadoop.fs.Path(dir, "legacy"))
      .filter(_.getPath.getName.startsWith(SpatialStore.TileCol + "="))
      .foreach(s => fs.rename(s.getPath, new org.apache.hadoop.fs.Path(dir, s.getPath.getName)))
    fs.delete(new org.apache.hadoop.fs.Path(dir, "legacy"), true)
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    for (read <- Seq(() => SpatialStore.containmentRead(spark, dir, window),
                     () => SpatialStore.read(spark, dir))) {
      val err = intercept[IllegalStateException](read().count())
      assert(err.getMessage.contains("retired Hive tile_id=N/ dir layout") &&
        err.getMessage.contains("rebuild it with write"),
        s"wanted the retired-layout message, got: ${err.getMessage}")
    }
  }
}
