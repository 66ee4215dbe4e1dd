package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPOutputStream

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, KnnJoinExec, SpatialJoinExec}

import graft.SparkTestBase
import graft.core.{Mbb, TileBoundary}
import graft.functions.{StEnvelope, StGeomFromWkt}
import graft.operators.SpatialJoin

/** A TSV+WKT input is parsed once per row on its way into a spatial or kNN
  * join, whose exec envelopes each row in its own copy step, and parsed and
  * enveloped once per row on its way into a store write or a streaming
  * ingest; `WktTsvSource.read` learns the field count without a Spark job. */
class ParseOnceSpec extends SparkTestBase {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.registerAll(spark)
  }

  private def tsv(dir: Path, name: String, rows: Int, from: Int = 0): Path = {
    val f = dir.resolve(name)
    Files.writeString(f, (from until from + rows).map { i =>
      val x = i % 17; val y = i / 17
      s"$i\tPOLYGON(($x $y,${x + 2} $y,${x + 2} ${y + 2},$x ${y + 2},$x $y))\tw$i\n"
    }.mkString)
    f
  }

  /** Occurrences of kernel `K` in the expressions of `plan`'s nodes. */
  private def kernels[K <: Expression](plan: QueryPlan[_])(
      implicit tag: scala.reflect.ClassTag[K]): Int =
    plan.collect { case p: QueryPlan[_] =>
      p.expressions.map(_.collect { case e if tag.runtimeClass.isInstance(e) => e }.size).sum
    }.sum

  /** Occurrences of kernel `K` in `df`'s optimized plan. */
  private def kernels[K <: Expression](df: DataFrame)(
      implicit tag: scala.reflect.ClassTag[K]): Int = kernels[K](df.queryExecution.optimizedPlan)

  /** The children of the spatial-join and kNN execs in `df`'s executed plan. */
  private def execChildren(df: DataFrame): Seq[SparkPlan] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case e: SpatialJoinExec => e.children; case e: KnnJoinExec => e.children }.flatten
  }

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; Bridge.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def fieldsOf(line: Option[String]): Option[Int] = line.map(_.split("\t", -1).length)

  /** The field count the probe reads equals the one the job-based probe
    * (`spark.read.text(path).limit(1)`) read, and reading runs no job. */
  private def probeParity(path: String, fields: Int, rows: Long): Unit = {
    val viaJob = spark.read.text(path).limit(1).collect().headOption.map(_.getString(0))
    assert(fieldsOf(WktTsvSource.firstLine(spark, path)) == fieldsOf(viaJob))
    assert(fieldsOf(viaJob).contains(fields))
    var df: DataFrame = null
    assert(jobsDuring { df = WktTsvSource.read(spark, path, 2) } == 0,
      s"reading $path ran a Spark job")
    assert(df.columns.toSeq == (1 to fields).map(i => s"f$i") :+ "geom")
    assert(df.count() == rows)
  }

  test("WktTsvSource.read -> join and kNN execs: one WKT parse per side, no envelope projection") {
    val dir = Files.createTempDirectory("graft_once_join")
    val f = tsv(dir, "a.tsv", 40).toString
    val a = WktTsvSource.read(spark, f, 2).select(col("f1").as("a_id"), col("geom").as("a_geom"))
    val b = WktTsvSource.read(spark, f, 2).select(col("f1").as("b_id"), col("geom").as("b_geom"))
    a.createOrReplaceTempView("once_a"); b.createOrReplaceTempView("once_b")
    // the execs decode and envelope each row in their own copy step: each
    // child parses its WKT once and computes no envelope
    def check(what: String, df: DataFrame): Unit = {
      val children = execChildren(df)
      assert(children.size == 2, s"$what: ${df.queryExecution.executedPlan}")
      children.foreach { c =>
        assert(kernels[StGeomFromWkt](c) == 1, s"$what: $c")
        assert(kernels[StEnvelope](c) == 0, s"$what: $c")
      }
    }
    Seq(SpatialJoin.Config(),
        SpatialJoin.Config(predicate = "dwithin", distance = 1.0),
        SpatialJoin.Config(predicate = "dwithin", distance = 1000.0, earth = true))
      .foreach { cfg =>
        check(s"join $cfg", SpatialJoin.join(a, "a_geom", b, "b_geom", cfg))
        Seq(cfg.knnBroadcastThreshold, 0).foreach { t =>
          check(s"knnJoinExact $cfg threshold $t", SpatialJoin.knnJoinExact(a, "a_geom", b, "b_geom",
            3, cfg = cfg.copy(knnBroadcastThreshold = t)))
        }
      }
    Seq("st_intersects(a_geom, b_geom)", "st_dwithin(a_geom, b_geom, 1.0)").foreach { on =>
      check(on, spark.sql(s"SELECT a_id, b_id FROM once_a JOIN once_b ON $on"))
    }
    val joined = SpatialJoin.join(a, "a_geom", b, "b_geom").count()
    assert(joined > 40)
  }

  test("SpatialStore.write's input: one WKT parse and one envelope") {
    val dir = Files.createTempDirectory("graft_once_store")
    val in = WktTsvSource.read(spark, tsv(dir, "a.tsv", 40).toString, 2)
    Seq(false, true).foreach { dups =>
      val rows = SpatialStore.enveloped(in, "geom", dups)
      assert(kernels[StGeomFromWkt](rows) == 1, rows.queryExecution.optimizedPlan)
      assert(kernels[StEnvelope](rows) == 1, rows.queryExecution.optimizedPlan)
      assert(rows.count() == 40)
    }
  }

  test("SpatialIngest.tileTag: one WKT parse and one envelope") {
    val dir = Files.createTempDirectory("graft_once_ingest")
    val in = spark.read.option("sep", "\t").csv(tsv(dir, "a.tsv", 40).toString)
      .toDF("id", "wkt", "w")
    val space = Mbb(0, 0, 20, 20)
    val tagged = graft.streaming.SpatialIngest.tileTag(in, "wkt",
      new graft.operators.TileIndex(Array(TileBoundary(0, space)), space))
    assert(kernels[StGeomFromWkt](tagged) == 1, tagged.queryExecution.optimizedPlan)
    assert(kernels[StEnvelope](tagged) == 1, tagged.queryExecution.optimizedPlan)
    assert(tagged.count() == 40)
  }

  test("field-count probe: directory with an empty first part, hidden files, no job") {
    val dir = Files.createTempDirectory("graft_probe_dir")
    Files.writeString(dir.resolve("part-00000"), "")
    tsv(dir, "part-00001", 30)
    tsv(dir, "part-00002", 20, from = 30)
    Files.writeString(dir.resolve("_SUCCESS"), "")
    Files.writeString(dir.resolve(".hidden"), "not\ta\tgeometry\tline\tat\tall\n")
    Files.writeString(dir.resolve("_hidden"), "1\t2\t3\t4\t5\n")
    probeParity(dir.toString, fields = 3, rows = 50)
  }

  test("field-count probe: glob, gzip file and a name that needs escaping") {
    val dir = Files.createTempDirectory("graft_probe_glob")
    tsv(dir, "a 1.tsv", 25)
    tsv(dir, "a 2.tsv", 5, from = 25)
    Files.writeString(dir.resolve("b.txt"), "x\ty\n")
    probeParity(dir.toString + "/a*.tsv", fields = 3, rows = 30)

    val gz = dir.resolve("c.tsv.gz")
    val plain = Files.readAllBytes(dir.resolve("a 1.tsv"))
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(plain) finally out.close()
    probeParity(gz.toString, fields = 3, rows = 25)
    assert(new String(plain, UTF_8).startsWith(WktTsvSource.firstLine(spark, gz.toString).get))
  }

  test("field-count probe: empty input keeps its message") {
    val dir = Files.createTempDirectory("graft_probe_empty")
    Files.writeString(dir.resolve("part-00000"), "")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    Seq(dir.toString, Files.createTempDirectory("graft_probe_none").toString).foreach { p =>
      assert(WktTsvSource.firstLine(spark, p).isEmpty)
      val e = intercept[IllegalArgumentException](WktTsvSource.read(spark, p, 2))
      assert(e.getMessage.contains(s"empty input $p"))
    }
  }
}
