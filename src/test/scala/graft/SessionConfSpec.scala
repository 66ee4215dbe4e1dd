package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.graph.LinkGraph
import graft.queries.Queries

/** Engine operators leave the caller's session conf alone: a conf an
  * operator flipped on the shared session would reach the plans of sibling
  * queries running beside it. Each check reads the caller's conf at every
  * job start while the operator plans and runs. */
class SessionConfSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val floorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val watched = Seq("spark.sql.adaptive.enabled", floorKey, "graft.join.bucket")

  /** Runs `body` with the floor set as the launchers set it, and returns
    * the jobs it started (each by its stages' call sites) and every watched
    * conf value that differed from the value before `body`, as seen at a
    * job start. */
  private def watch(body: => Unit): (Seq[String], Seq[String]) = {
    val sc = spark.sparkContext
    val savedFloor = spark.conf.getOption(floorKey)
    spark.conf.set(floorKey, "64k")
    val before = watched.map(k => k -> spark.conf.getOption(k)).toMap
    val jobs = new ConcurrentLinkedQueue[String]
    val changed = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.name).mkString("[", ", ", "]"))
        watched.foreach { k =>
          val v = spark.conf.getOption(k)
          if (v != before(k)) changed.add(s"job ${js.jobId}: $k = $v, was ${before(k)}")
        }
      }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      Bridge.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(listener)
      savedFloor match {
        case Some(v) => spark.conf.set(floorKey, v)
        case None => spark.conf.unset(floorKey)
      }
    }
    (jobs.asScala.toSeq, changed.asScala.toSeq)
  }

  /** A host graph shaped like q_host_rank's: a distinct node set and a
    * grouped edge list, so each input carries one exchange. */
  private def graph: (DataFrame, DataFrame) = {
    val links = (0 until 200).map(i => (s"h${i % 20}", s"h${(i * 7 + 3) % 23}")).toDF("s", "d")
    (links.select(col("s").as("host")).distinct(), LinkGraph.hostGraph(links, "s", "d"))
  }

  test("pageRank leaves the session conf unchanged while it plans and runs") {
    val (nodes, edges) = graph
    val (_, changed) = watch {
      LinkGraph.pageRank(nodes, "host", edges, iterations = 3).collect()
    }
    assert(changed.isEmpty, changed.mkString("; "))
  }

  test("pageRank with 3 iterations and its consuming collect run in at most 3 jobs") {
    val (nodes, edges) = graph
    val (jobs, _) = watch {
      LinkGraph.pageRank(nodes, "host", edges, iterations = 3).collect()
    }
    info(s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(jobs.size <= 3, jobs.mkString("; "))
  }

  test("q_knn_tile_sql leaves the session conf unchanged and runs no job while it plans") {
    // reading a parquet input's schema runs a job; building the gate may
    // run those and nothing else
    val (inputJobs, _) = watch { Queries.custPoints(spark, dir); Queries.suppPoints(spark, dir) }
    var df: DataFrame = null
    val (planJobs, planChanged) = watch { df = Queries.qKnnTileSqlGate(spark, dir) }
    val (_, runChanged) = watch { df.collect() }
    val changed = planChanged ++ runChanged
    assert(changed.isEmpty, changed.mkString("; "))
    assert(planJobs == inputJobs, s"jobs while building the gate's DataFrame: " +
      s"${planJobs.mkString("; ")}; its inputs' schema reads: ${inputJobs.mkString("; ")}")
  }

  test("q_knn_tile_sql equals q_knn_tile") {
    def rows(df: DataFrame): Seq[Row] =
      df.select(col("cid"), col("dist")).collect().toSeq.sortBy(r => (r.getLong(0), r.getDouble(1)))
    val sql = rows(Queries.qKnnTileSqlGate(spark, dir))
    assert(sql.nonEmpty)
    assert(sql == rows(Queries.qKnnTile(spark, dir)))
  }
}
