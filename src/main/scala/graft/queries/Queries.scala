package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.SpatialJoin

/** The driver-gated query catalog: every entry has a Spark implementation
  * here and (where SQL-expressible) a plain-ANSI-SQL DuckDB oracle in
  * [[Oracles]]. Spatial inputs are deterministic integer-lattice geometries
  * derived from table keys, so rectangle areas / intersections / distances
  * are exact in IEEE doubles and the plain-SQL oracle matches bit-for-bit
  * (DuckDB here has no spatial extension; the Spark side still runs the full
  * WKT/JTS engine path).
  */
object Queries {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Classifier-training id cap for the curation gates: keeps the labeled
    * sample BOUNDED at every scale factor. ScaleData stacks copies at
    * `base_id + copy * 1e7` (base ids stay below 1e7 — ScaleData validates
    * this), so `< 4e7` selects copies 0-3 at any copy count while keeping
    * every row of the un-stacked driver SFs (sf0.001-0.1). Stacked copies
    * repeat the same texts, so the capped training set sees every distinct
    * document the uncapped one would — only the duplication factor drops. */
  private val TrainIdCap = 40000000L

  /** Where gates keep their side files (oracle aux relations, stream
    * checkpoints, stores, shards): `target/` under the JVM's working
    * directory, absolute so the DuckDB paths [[auxSql]] writes into
    * oracle_sql.json resolve from any directory. */
  private lazy val Work: String =
    java.nio.file.Paths.get("target").toAbsolutePath.toString

  /** `<Work>/<area>/<SF dir name>`: keyed by the SF directory name so a
    * bench run at another SF never clobbers the sf0.01 verify artifacts. */
  private def workDir(area: String, dir: String): String =
    s"$Work/$area/${new java.io.File(dir).getName}"

  /** Checkpoint an engine-internal relation (hash-family signatures, LSH
    * buckets, IVF assignments) as parquet and read it back, so (a) the
    * downstream the gate ships is provably computed over exactly these bits
    * and (b) the SQL-expressible stage downstream — banding, pair join,
    * threshold, ranking — can be oracled by DuckDB over the same file. */
  def writeOracleAux(df: DataFrame, dir: String, name: String): DataFrame = {
    val path = s"${workDir("oracle_aux", dir)}/$name"
    // a handful of files, not coalesce(1): the oracle reads a glob, and a
    // single-file write FORCES the whole upstream pipeline into one task
    // (coalesce is narrow) — measured as the dominant stage of every
    // checkpoint-backed gate
    df.repartition(8).write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Two INDEPENDENT driver actions as concurrent jobs (guide §2.6 —
    * overlap independent jobs so one action's task tail back-fills with
    * the other's tasks). Dedicated 2-thread pool, not the global pool. Each
    * side runs under its own job group. The pair is awaited jointly (`zip`
    * fails as soon as either side fails), and on a failure the sibling's
    * running jobs are cancelled (task threads interrupted) before the
    * error is rethrown, so they do not keep the cores busy after the gate
    * has failed. A finite (but generous — these are bounded gate-side
    * actions) timeout turns a hung job into a loud error rather than a
    * silently stuck gate (round-16 advice). */
  def par2[A, B](fa0: => A, fb0: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val sc = SparkSession.active.sparkContext
    val groups = Seq("a", "b").map(s => s"graft-par2-${java.util.UUID.randomUUID}-$s")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def side[T](group: String, body: => T): Future[T] = Future {
      // pool threads inherit the caller's local properties; keep its
      // job description, replace only the group
      sc.setJobGroup(group, sc.getLocalProperty("spark.job.description"),
        interruptOnCancel = true)
      body
    }
    try {
      val fa = side(groups(0), fa0)
      val fb = side(groups(1), fb0)
      try Await.result(fa.zip(fb), 30.minutes)
      catch { case e: Throwable =>
        groups.foreach(g => sc.cancelJobGroup(g))
        throw e
      }
    } finally pool.shutdown()
  }

  /** Two [[writeOracleAux]] checkpoints through [[par2]]. Only for aux
    * relations with no data dependency on each other. */
  def writeOracleAuxPar(dir: String,
                        a: (DataFrame, String),
                        b: (DataFrame, String)): (DataFrame, DataFrame) =
    par2(writeOracleAux(a._1, dir, a._2), writeOracleAux(b._1, dir, b._2))

  /** DuckDB-side reference to a [[writeOracleAux]] artifact (the driver's
    * correctness gate always runs at sf0.01). */
  def auxSql(name: String): String =
    s"read_parquet('$Work/oracle_aux/sf0.01/$name/*.parquet')"

  /** events with `ts` as a timestamp. The testdata generator has shipped
    * `ts` both as TIMESTAMP(NANOS) — which Spark surfaces as BIGINT nanos
    * under spark.sql.legacy.parquet.nanosAsLong — and as TIMESTAMP(MICROS),
    * which arrives as a timestamp type directly. Branch on the read schema
    * so either vintage works; the nanos path truncates to micros like
    * DuckDB does. */
  def eventsTable(spark: SparkSession, dir: String): DataFrame =
    adaptEventTs(table(spark, dir, "events"))

  /** Shared by the batch table above and the readStream path in tests, so
    * a testdata schema drift breaks both loudly at build time. */
  def adaptEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** part -> one axis-aligned box per row on a 20x20 cell lattice:
    * corner = (key%20, floor(key/20)%20) * 10, side = 1 + p_size%10. */
  def partBoxes(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
        col("p_partkey").as("id"),
        ((col("p_partkey") % 20) * 10.0).as("x0"),
        ((floor(col("p_partkey") / 20) % 20) * 10.0).as("y0"),
        (lit(1) + col("p_size") % 10).cast("double").as("w"))
      .withColumn("geom",
        st_makebox(col("x0"), col("y0"), col("x0") + col("w"), col("y0") + col("w")))

  val partBoxesSql: String =
    """SELECT p_partkey AS id,
      | (p_partkey % 20) * 10.0 AS x0,
      | (floor(p_partkey / 20) % 20) * 10.0 AS y0,
      | CAST(1 + p_size % 10 AS DOUBLE) AS w FROM part""".stripMargin

  /** customer/supplier -> one lattice point per row. */
  def keyPoints(spark: SparkSession, dir: String, tbl: String, key: String,
                mult: Int, mod: Int): DataFrame =
    table(spark, dir, tbl).select(
        col(key).as("id"),
        ((col(key) * mult) % mod).cast("double").as("px"),
        (floor(col(key) * mult / mod) % mod).cast("double").as("py"))
      .withColumn("geom", st_point(col("px"), col("py")))

  def keyPointsSql(tbl: String, key: String, mult: Int, mod: Int): String =
    s"""SELECT $key AS id,
       | CAST(($key * $mult) % $mod AS DOUBLE) AS px,
       | CAST(floor($key * $mult / $mod) % $mod AS DOUBLE) AS py FROM $tbl""".stripMargin

  def custPoints(spark: SparkSession, dir: String): DataFrame =
    keyPoints(spark, dir, "customer", "c_custkey", 7, 300)
  val custPointsSql: String = keyPointsSql("customer", "c_custkey", 7, 300)

  def suppPoints(spark: SparkSession, dir: String): DataFrame =
    keyPoints(spark, dir, "supplier", "s_suppkey", 13, 300)
  val suppPointsSql: String = keyPointsSql("supplier", "s_suppkey", 13, 300)

  // ---------------------------------------------------------------- spatial

  /** J1+J3: full tiled spatial join engine, st_intersects self-join of part
    * boxes, fg partitioner, refpoint dedup; intersection area measure (A7). */
  def qSpjoinIntersects(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir)
    val a = b.select(col("id").as("id1"), col("geom").as("g1"))
    val c = b.select(col("id").as("id2"), col("geom").as("g2"))
    SpatialJoin.join(a, "g1", c, "g2",
        SpatialJoin.Config(predicate = "intersects", partitioner = "fg", bucket = 500))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        st_intersection_area(col("g1"), col("g2")).as("inter_area"))
  }

  val qSpjoinIntersectsSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT a.id AS id1, c.id AS id2,
       | greatest(0, least(a.x0+a.w, c.x0+c.w) - greatest(a.x0, c.x0)) *
       | greatest(0, least(a.y0+a.w, c.y0+c.w) - greatest(a.y0, c.y0)) AS inter_area
       |FROM b a JOIN b c ON a.id < c.id
       | AND a.x0 <= c.x0 + c.w AND c.x0 <= a.x0 + a.w
       | AND a.y0 <= c.y0 + c.w AND c.y0 <= a.y0 + a.w""".stripMargin

  /** J12: distance join — part boxes vs customer points within d=4
    * (reference st_dwithin, spjoin_2d.hpp:167-205). Exact: all coordinates
    * are lattice integers, so the clamped squared distance is integer-valued
    * in doubles. */
  def qSpjoinDwithin(spark: SparkSession, dir: String): DataFrame = {
    val parts = partBoxes(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g2"))
    SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "dwithin", distance = 4.0, bucket = 500))
      .select(col("pid"), col("cid"))
  }

  val qSpjoinDwithinSql: String =
    s"""WITH b AS ($partBoxesSql), c AS ($custPointsSql)
       |SELECT b.id AS pid, c.id AS cid FROM b JOIN c ON
       | greatest(b.x0 - c.px, c.px - b.x0 - b.w, 0) * greatest(b.x0 - c.px, c.px - b.x0 - b.w, 0)
       | + greatest(b.y0 - c.py, c.py - b.y0 - b.w, 0) * greatest(b.y0 - c.py, c.py - b.y0 - b.w, 0)
       | <= 16.0""".stripMargin

  /** G2–G7 evidence gates: the identical dwithin join re-run under each of
    * the reference's sampled partitioners (bsp BinarySplitNode.hpp:42-229,
    * qt QuadtreeNode.hpp:46-133, str str_2d.cpp:139-189, hc hc_2d.cpp:112-207,
    * slc slc_2d.cpp:11-120, bos bos_2d.cpp:4-170). Join output is
    * partitioner-invariant, so every gate shares qSpjoinDwithinSql verbatim —
    * a wrong tiling surfaces as missing or duplicated pairs. */
  def qSpjoinDwithinPart(partitioner: String)(spark: SparkSession, dir: String): DataFrame = {
    val parts = partBoxes(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g2"))
    SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "dwithin", distance = 4.0,
          partitioner = partitioner, bucket = 500))
      .select(col("pid"), col("cid"))
  }

  /** P2 default project-all: the same dwithin self-join with NO field
    * projection — every attribute column of both sides passes through with
    * the l_/r_ side prefixes (the reference's default when --fields is
    * absent, resque_params_2d.hpp:70-75: emit the full rawdata of both
    * objects). Geometry columns are carried too but excluded from the gate
    * output (WKB bytes aren't DuckDB-comparable; WKT round-trip fidelity is
    * q_wkt_roundtrip's gate). */
  def qSpjoinProjectAll(spark: SparkSession, dir: String): DataFrame =
    SpatialJoin.selfJoin(partBoxes(spark, dir), "geom", "id",
        cfg = SpatialJoin.Config(predicate = "dwithin", distance = 3.0,
          bucket = 500))
      .select(col("l_id"), col("l_x0"), col("l_y0"), col("l_w"),
        col("r_id"), col("r_x0"), col("r_y0"), col("r_w"))

  val qSpjoinProjectAllSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT a.id AS l_id, a.x0 AS l_x0, a.y0 AS l_y0, a.w AS l_w,
       |       c.id AS r_id, c.x0 AS r_x0, c.y0 AS r_y0, c.w AS r_w
       |FROM b a JOIN b c ON a.id < c.id
       | AND greatest(a.x0 - c.x0 - c.w, c.x0 - a.x0 - a.w, 0)
       |   * greatest(a.x0 - c.x0 - c.w, c.x0 - a.x0 - a.w, 0)
       |   + greatest(a.y0 - c.y0 - c.w, c.y0 - a.y0 - a.w, 0)
       |   * greatest(a.y0 - c.y0 - c.w, c.y0 - a.y0 - a.w, 0) <= 9.0""".stripMargin

  /** M3 bucket scaling under sampling (reference queryprocessor_2d.cpp:280:
    * bucket_size *= sample_rate): sampleTarget=800 sits below the input
    * count at every gated SF, so planTiles takes a real Bernoulli sample
    * and scales the per-tile bucket by the fraction — the tile count stays
    * ~n/bucket as if planned on the full data. Join output is
    * tiling-invariant, so the oracle is the plain dwithin SQL; the tile-
    * count scaling law itself is pinned in SpatialJoinSpec. */
  def qSpjoinSampled(spark: SparkSession, dir: String): DataFrame = {
    val parts = partBoxes(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g2"))
    SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "dwithin", distance = 4.0,
          bucket = 500, sampleTarget = 800))
      .select(col("pid"), col("cid"))
  }

  val qSpjoinSampledSql: String = qSpjoinDwithinSql

  /** F6/J12 earth mode: spherical dwithin join, supplier points (probe side
    * — the reference expands the probe MBB by `distance` in coordinate
    * units, spjoin_2d.hpp:61-66, reproduced here) vs customer points within
    * 50 km. Lattice points map to lon/lat in [-15, 14.9]; the 50 000 m
    * threshold sits in a >4 km distance gap at every SF, so sub-ULP
    * sin/cos/asin differences between JVM and DuckDB libm cannot flip a
    * pair's membership. Constants and FP op order are the reference's
    * (geographical.h:3-23 via core/Geo.scala). */
  def qSpjoinDwithinEarth(spark: SparkSession, dir: String): DataFrame = {
    def pts(tbl: String, key: String, mult: Int) =
      table(spark, dir, tbl).select(
          col(key).as("id"),
          (((col(key) * mult) % 300).cast("double") * 0.1 - 15.0).as("lon"),
          ((floor(col(key) * mult / 300) % 300).cast("double") * 0.1 - 15.0).as("lat"))
        .withColumn("geom", st_point(col("lon"), col("lat")))
    val supps = pts("supplier", "s_suppkey", 13).select(col("id").as("sid"), col("geom").as("g1"))
    val custs = pts("customer", "c_custkey", 7).select(col("id").as("cid"), col("geom").as("g2"))
    SpatialJoin.join(supps, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "dwithin", distance = 50000.0,
          earth = true, bucket = 64))
      .select(col("sid"), col("cid"))
  }

  /** Haversine in the exact FP op order of Geo.haversineMiles:
    * sin²(dLat/2) + cos(la1)·cos(la2)·sin²(dLon/2); 3958.75·2·asin(√h)·1609. */
  val qSpjoinDwithinEarthSql: String =
    """WITH s AS (SELECT s_suppkey AS id,
      |  CAST((s_suppkey*13)%300 AS DOUBLE)*0.1 - 15.0 AS lon,
      |  CAST(floor(s_suppkey*13/300)%300 AS DOUBLE)*0.1 - 15.0 AS lat FROM supplier),
      |c AS (SELECT c_custkey AS id,
      |  CAST((c_custkey*7)%300 AS DOUBLE)*0.1 - 15.0 AS lon,
      |  CAST(floor(c_custkey*7/300)%300 AS DOUBLE)*0.1 - 15.0 AS lat FROM customer)
      |SELECT s.id AS sid, c.id AS cid FROM s JOIN c ON
      | 3958.75 * 2 * asin(sqrt(
      |   pow(sin((radians(c.lat)-radians(s.lat))/2),2) +
      |   cos(radians(s.lat))*cos(radians(c.lat))*pow(sin(radians(c.lon-s.lon)/2),2)
      | )) * 1609.0 <= 50000.0""".stripMargin

  /** Spatio-temporal join — the reference's `*_spt` lifecycle
    * (src/README.md:5-13; extensions/spt/temporal.h:4-24,
    * temporal_functions.hpp:9-111): a tile-partitioned spatial join whose
    * pairs are refined by multi-interval temporal predicates. Each object
    * carries a LIST of validity intervals (two here, key-derived integers so
    * the temporal arithmetic is exact); the join keeps spatially-close pairs
    * whose interval sets come within 20 ticks, and reports the gap
    * (`intervals_mindist`, 0 = co-occurring). The spatial exchange is
    * untouched — temporal refinement is a tile-local post-filter, so the
    * scale story is exactly the dwithin gate's. */
  def qSpjoinSpt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    def iv(s: Column, e: Column): Column =
      struct(s.cast("long").as("start"), e.cast("long").as("end"))
    val parts = partBoxes(spark, dir).select(
      col("id").as("pid"), col("geom").as("g1"),
      array(
        iv((col("id") % 97) * 10, (col("id") % 97) * 10 + 4 + col("id") % 11),
        iv((col("id") % 97) * 10 + 200, (col("id") % 97) * 10 + 209)).as("ia"))
    val custs = custPoints(spark, dir).select(
      col("id").as("cid"), col("geom").as("g2"),
      array(
        iv((col("id") % 89) * 10, (col("id") % 89) * 10 + 6),
        iv((col("id") % 89) * 10 + 150, (col("id") % 89) * 10 + 153)).as("ib"))
    SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "dwithin", distance = 4.0, bucket = 500))
      .where(intervals_overlap(col("ia"), col("ib")) ||
        intervals_mindist(col("ia"), col("ib")) <= 20)
      .select(col("pid"), col("cid"),
        intervals_mindist(col("ia"), col("ib")).as("md"))
  }

  val qSpjoinSptSql: String =
    s"""WITH b AS ($partBoxesSql), c AS ($custPointsSql),
       |bi AS (SELECT *, (id%97)*10 AS sa1, (id%97)*10+4+id%11 AS ea1,
       |  (id%97)*10+200 AS sa2, (id%97)*10+209 AS ea2 FROM b),
       |ci AS (SELECT *, (id%89)*10 AS sb1, (id%89)*10+6 AS eb1,
       |  (id%89)*10+150 AS sb2, (id%89)*10+153 AS eb2 FROM c)
       |SELECT pid, cid, md FROM (
       | SELECT b.id AS pid, c.id AS cid, least(
       |  CASE WHEN sa1<=eb1 AND sb1<=ea1 THEN 0 WHEN sa1>eb1 THEN sa1-eb1 ELSE sb1-ea1 END,
       |  CASE WHEN sa1<=eb2 AND sb2<=ea1 THEN 0 WHEN sa1>eb2 THEN sa1-eb2 ELSE sb2-ea1 END,
       |  CASE WHEN sa2<=eb1 AND sb1<=ea2 THEN 0 WHEN sa2>eb1 THEN sa2-eb1 ELSE sb1-ea2 END,
       |  CASE WHEN sa2<=eb2 AND sb2<=ea2 THEN 0 WHEN sa2>eb2 THEN sa2-eb2 ELSE sb2-ea2 END) AS md
       | FROM bi b JOIN ci c ON
       |  greatest(b.x0 - c.px, c.px - b.x0 - b.w, 0) * greatest(b.x0 - c.px, c.px - b.x0 - b.w, 0)
       |  + greatest(b.y0 - c.py, c.py - b.y0 - b.w, 0) * greatest(b.y0 - c.py, c.py - b.y0 - b.w, 0)
       |  <= 16.0)
       |WHERE md <= 20""".stripMargin

  /** 3-D lattice cubes derived from part (the 3-D analog of partBoxes):
    * 20x20x20 grid positions, side 1-10. */
  def partCubes(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
      col("p_partkey").as("id"),
      ((col("p_partkey") % 20) * 10).cast("double").as("x0"),
      ((floor(col("p_partkey") / 20) % 20) * 10).cast("double").as("y0"),
      ((floor(col("p_partkey") / 400) % 20) * 10).cast("double").as("z0"),
      (lit(1) + col("p_size") % 10).cast("double").as("w"))

  val partCubesSql: String =
    """SELECT p_partkey AS id,
      | (p_partkey % 20) * 10.0 AS x0,
      | (floor(p_partkey / 20) % 20) * 10.0 AS y0,
      | (floor(p_partkey / 400) % 20) * 10.0 AS z0,
      | CAST(1 + p_size % 10 AS DOUBLE) AS w FROM part""".stripMargin

  /** 3-D MBB intersects self-join (the reference's resque3d/fg3d MBB path,
    * src/README.md:5-15) — SpatialJoin3d.joinMbb: fg3d cells on the refine
    * slots, closed-envelope refine, reference-point dedup. */
  def qSpjoin3d(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SpatialJoin3d
    val b = partCubes(spark, dir)
    def side(p: String) = b.select(col("id").as(s"${p}id"),
      col("x0").as(s"${p}x0"), col("y0").as(s"${p}y0"), col("z0").as(s"${p}z0"),
      (col("x0") + col("w")).as(s"${p}x1"), (col("y0") + col("w")).as(s"${p}y1"),
      (col("z0") + col("w")).as(s"${p}z1"))
    val lc = SpatialJoin3d.Mbb3Cols("ax0", "ay0", "az0", "ax1", "ay1", "az1")
    val rc = SpatialJoin3d.Mbb3Cols("bx0", "by0", "bz0", "bx1", "by1", "bz1")
    SpatialJoin3d.joinMbb(side("a"), lc, side("b"), rc, cellsPerAxis = 8)
      .where(col("aid") < col("bid"))
      .select(col("aid").as("id1"), col("bid").as("id2"))
  }

  val qSpjoin3dSql: String =
    s"""WITH b AS ($partCubesSql)
       |SELECT a.id AS id1, c.id AS id2 FROM b a JOIN b c ON a.id < c.id
       | AND a.x0 <= c.x0 + c.w AND c.x0 <= a.x0 + a.w
       | AND a.y0 <= c.y0 + c.w AND c.y0 <= a.y0 + a.w
       | AND a.z0 <= c.z0 + c.w AND c.z0 <= a.z0 + a.w""".stripMargin

  /** 3-D exact kNN: customer lattice points to their 3 nearest part cubes
    * by MBB gap distance (SpatialJoin3d.knnJoinMbb — per-row probe radius,
    * then the per-cell kernel on the refine slots). Rank-only output: squared gap distances are exact
    * lattice integers, so the oracle ranks on dx²+dy²+dz² with the same
    * (distance, id) tie order and never compares a sqrt. */
  def qKnn3d(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SpatialJoin3d
    val custs = table(spark, dir, "customer").select(
      col("c_custkey").as("cid"),
      ((col("c_custkey") * 7) % 300).cast("double").as("cx"),
      (floor(col("c_custkey") * 7 / 300) % 300).cast("double").as("cy"),
      ((col("c_custkey") % 20) * 10 + 5).cast("double").as("cz"))
    val parts = partCubes(spark, dir).select(col("id").as("sid"),
      col("x0").as("sx0"), col("y0").as("sy0"), col("z0").as("sz0"),
      (col("x0") + col("w")).as("sx1"), (col("y0") + col("w")).as("sy1"),
      (col("z0") + col("w")).as("sz1"))
    val lc = SpatialJoin3d.Mbb3Cols("cx", "cy", "cz", "cx", "cy", "cz")
    val rc = SpatialJoin3d.Mbb3Cols("sx0", "sy0", "sz0", "sx1", "sy1", "sz1")
    SpatialJoin3d.knnJoinMbb(custs, lc, parts, rc, "sid", k = 3,
        cellsPerAxis = 8)
      .select(col("cid"), col("sid"), col("knn_rank").as("rk"))
  }

  /** q_knn_3d over the octree tiling (SpatialJoin3d.knnJoinMbbOc — the
    * reconstructed `oc` partitioner): adaptive leaves sized to the part-
    * cube density replace the uniform grid, so the ~44% of customers
    * sitting outside the parts region get tight probe plans instead of
    * coarse empty-cell radii. Same oracle as q_knn_3d — the tiling must
    * not change the answer. */
  def qKnn3dOc(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SpatialJoin3d
    val custs = table(spark, dir, "customer").select(
      col("c_custkey").as("cid"),
      ((col("c_custkey") * 7) % 300).cast("double").as("cx"),
      (floor(col("c_custkey") * 7 / 300) % 300).cast("double").as("cy"),
      ((col("c_custkey") % 20) * 10 + 5).cast("double").as("cz"))
    val parts = partCubes(spark, dir).select(col("id").as("sid"),
      col("x0").as("sx0"), col("y0").as("sy0"), col("z0").as("sz0"),
      (col("x0") + col("w")).as("sx1"), (col("y0") + col("w")).as("sy1"),
      (col("z0") + col("w")).as("sz1"))
    val lc = SpatialJoin3d.Mbb3Cols("cx", "cy", "cz", "cx", "cy", "cz")
    val rc = SpatialJoin3d.Mbb3Cols("sx0", "sy0", "sz0", "sx1", "sy1", "sz1")
    SpatialJoin3d.knnJoinMbbOc(custs, lc, parts, rc, "sid", k = 3,
        leafCap = 512)
      .select(col("cid"), col("sid"), col("knn_rank").as("rk"))
  }

  val qKnn3dSql: String =
    s"""WITH c AS (SELECT c_custkey AS cid,
       |  CAST((c_custkey * 7) % 300 AS DOUBLE) AS cx,
       |  CAST(floor(c_custkey * 7 / 300) % 300 AS DOUBLE) AS cy,
       |  CAST((c_custkey % 20) * 10 + 5 AS DOUBLE) AS cz FROM customer),
       |s AS ($partCubesSql),
       |p AS (SELECT c.cid, s.id AS sid,
       |  greatest(s.x0 - c.cx, c.cx - s.x0 - s.w, 0) AS dx,
       |  greatest(s.y0 - c.cy, c.cy - s.y0 - s.w, 0) AS dy,
       |  greatest(s.z0 - c.cz, c.cz - s.z0 - s.w, 0) AS dz
       | FROM c CROSS JOIN s)
       |SELECT cid, sid, rk FROM (
       | SELECT cid, sid, row_number() OVER (PARTITION BY cid
       |   ORDER BY dx*dx + dy*dy + dz*dz, sid) AS rk
       | FROM p) WHERE rk <= 3""".stripMargin

  /** mbb_normalizer_3d: unit-cube normalization of the 3-D envelopes.
    * FP-exact: lattice ints, one subtraction, one division by an exact
    * span, mirrored verbatim in the oracle. */
  def qNormalize3d(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SpatialJoin3d
    val b = partCubes(spark, dir).select(col("id"),
      col("x0"), col("y0"), col("z0"),
      (col("x0") + col("w")).as("x1"), (col("y0") + col("w")).as("y1"),
      (col("z0") + col("w")).as("z1"))
    SpatialJoin3d.normalized(b,
        SpatialJoin3d.Mbb3Cols("x0", "y0", "z0", "x1", "y1", "z1"),
        s => s"n$s")
      .select(col("id"), col("nxmin"), col("nymin"), col("nzmin"),
        col("nxmax"), col("nymax"), col("nzmax"))
  }

  val qNormalize3dSql: String =
    s"""WITH b AS (SELECT id, x0, y0, z0, x0+w AS x1, y0+w AS y1, z0+w AS z1
       |  FROM ($partCubesSql)),
       |s AS (SELECT min(x0) sx0, min(y0) sy0, min(z0) sz0,
       |             max(x1) sx1, max(y1) sy1, max(z1) sz1 FROM b)
       |SELECT id,
       | (x0 - sx0) / (sx1 - sx0) AS nxmin,
       | (y0 - sy0) / (sy1 - sy0) AS nymin,
       | (z0 - sz0) / (sz1 - sz0) AS nzmin,
       | (x1 - sx0) / (sx1 - sx0) AS nxmax,
       | (y1 - sy0) / (sy1 - sy0) AS nymax,
       | (z1 - sz0) / (sz1 - sz0) AS nzmax
       |FROM b, s""".stripMargin

  /** J6: containment join — part boxes strictly containing customer points
    * (JTS contains excludes the boundary, hence strict inequalities in the
    * oracle). */
  def qSpjoinContains(spark: SparkSession, dir: String): DataFrame = {
    val parts = partBoxes(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g2"))
    SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "contains", bucket = 500))
      .select(col("pid"), col("cid"))
  }

  val qSpjoinContainsSql: String =
    s"""WITH b AS ($partBoxesSql), c AS ($custPointsSql)
       |SELECT b.id AS pid, c.id AS cid FROM b JOIN c ON
       | c.px > b.x0 AND c.px < b.x0 + b.w AND c.py > b.y0 AND c.py < b.y0 + b.w""".stripMargin

  /** J9: st_equals self-join on part boxes (lattice collisions produce true
    * equal-geometry pairs). */
  def qSpjoinEquals(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir)
    val a = b.select(col("id").as("id1"), col("geom").as("g1"))
    val c = b.select(col("id").as("id2"), col("geom").as("g2"))
    SpatialJoin.join(a, "g1", c, "g2",
        SpatialJoin.Config(predicate = "equals", bucket = 500))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
  }

  val qSpjoinEqualsSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT a.id AS id1, c.id AS id2 FROM b a JOIN b c ON a.id < c.id
       | AND a.x0 = c.x0 AND a.y0 = c.y0 AND a.w = c.w""".stripMargin

  /** P5/J15: containment window query — part boxes intersecting a fixed
    * window (reference resque -o 0 cache-file path, resque_2d.cpp:127-273),
    * projecting id + area (A5). */
  def qContainment(spark: SparkSession, dir: String): DataFrame =
    partBoxes(spark, dir)
      .where(st_intersects(col("geom"),
        st_makebox(lit(35.0), lit(25.0), lit(150.0), lit(160.0))))
      .select(col("id"), st_area(col("geom")).as("area"))

  val qContainmentSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT id, w * w AS area FROM b
       |WHERE x0 <= 150 AND x0 + w >= 35 AND y0 <= 160 AND y0 + w >= 25""".stripMargin

  /** J13/J14 (improved): EXACT global kNN join — customer points to their 3
    * nearest supplier points, deterministic (distance, supplier-id)
    * tie-break. Rank-only output keeps the oracle FP-exact. */
  def qKnn(spark: SparkSession, dir: String): DataFrame = {
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g1"))
    val supps = suppPoints(spark, dir).select(col("id").as("sid"), col("geom").as("g2"))
    SpatialJoin.knnJoinExact(custs, "g1", supps, "g2", k = 3,
        tieBreak = Seq("sid"), cfg = SpatialJoin.Config(bucket = 500))
      .select(col("cid"), col("sid"), col("knn_rank").as("rk"))
  }

  val qKnnSql: String =
    s"""WITH c AS ($custPointsSql), s AS ($suppPointsSql)
       |SELECT cid, sid, rk FROM (
       | SELECT c.id AS cid, s.id AS sid, row_number() OVER (
       |   PARTITION BY c.id
       |   ORDER BY (c.px-s.px)*(c.px-s.px) + (c.py-s.py)*(c.py-s.py), s.id) AS rk
       | FROM c CROSS JOIN s) WHERE rk <= 3""".stripMargin

  /** J13 bounded-distance kNN (st_nearest with -d, knn_2d.hpp:113-217):
    * k=3 nearest suppliers within distance 2.5 of each customer. The
    * threshold sits mid-gap on the integer lattice (squared distances are
    * integers, 6.25 is never attained), so the float compare is margin-safe.
    */
  def qKnnBounded(spark: SparkSession, dir: String): DataFrame = {
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g1"))
    val supps = suppPoints(spark, dir).select(col("id").as("sid"), col("geom").as("g2"))
    SpatialJoin.knnJoinBounded(custs, "g1", supps, "g2", k = 3,
        maxDistance = 2.5, tieBreak = Seq("sid"),
        cfg = SpatialJoin.Config(bucket = 500))
      .select(col("cid"), col("sid"), col("knn_rank").as("rk"))
  }

  val qKnnBoundedSql: String =
    s"""WITH c AS ($custPointsSql), s AS ($suppPointsSql)
       |SELECT cid, sid, rk FROM (
       | SELECT c.id AS cid, s.id AS sid,
       |   (c.px-s.px)*(c.px-s.px) + (c.py-s.py)*(c.py-s.py) AS d2,
       |   row_number() OVER (
       |   PARTITION BY c.id
       |   ORDER BY (c.px-s.px)*(c.px-s.px) + (c.py-s.py)*(c.py-s.py), s.id) AS rk
       | FROM c CROSS JOIN s) WHERE rk <= 3 AND d2 < 6.25""".stripMargin

  /** J13 SQL surface: the q_knn relation expressed as plain SQL text —
    * `JOIN ... ON st_nearest(g1, g2, 3)` planned by SpatialJoinStrategy as
    * KnnJoinExec onto the exact-kNN engine (the reference CLI's
    * `-p st_nearest`, knn_2d.hpp:113-217, reachable without the
    * programmatic API). Rank is recomputed relationally over the joined
    * pairs with the same (distance, sid) order the engine tie-breaks with,
    * so the gate shares q_knn's oracle. The plan shape is asserted here —
    * a silent fallback to BroadcastNestedLoopJoin would throw st_nearest's
    * unevaluable error anyway, but the require makes the contract
    * explicit. Strategy + registry injection is idempotent, so the gate is
    * self-contained in any session (the q_disjoint_sql convention). */
  def qKnnSqlGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{KnnJoinExec, SpatialJoinStrategy}
    SpatialJoinStrategy.install(spark)
    graft.functions.registerAll(spark)
    custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g1"))
      .createOrReplaceTempView("gate_knn_c")
    suppPoints(spark, dir).select(col("id").as("sid"), col("geom").as("g2"))
      .createOrReplaceTempView("gate_knn_s")
    val q = spark.sql(
      """SELECT cid, sid, rk FROM (
        |  SELECT cid, sid, row_number() OVER (
        |    PARTITION BY cid ORDER BY st_distance(g1, g2), sid) AS rk
        |  FROM (SELECT c.cid, c.g1, s.sid, s.g2
        |        FROM gate_knn_c c JOIN gate_knn_s s
        |        ON st_nearest(c.g1, s.g2, 3))
        |) WHERE rk <= 3""".stripMargin)
    // the window introduces an exchange, so AQE wraps the plan — look
    // through AdaptiveSparkPlanExec (a leaf node) for the kNN exec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = q.queryExecution.executedPlan
    val plans = root +: root.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    require(plans.exists(_.collect { case e: KnnJoinExec => e }.nonEmpty),
      "q_knn_sql must plan through KnnJoinExec")
    q
  }

  val qKnnSqlGateSql: String = qKnnSql

  /** J5: st_crosses join over segment geometries through the full tiled
    * engine. Segment families are built so JTS crosses == proper interior
    * intersection: A slope 1/2 on integer lattice, B slope 3 on half-integer
    * offsets — never collinear with each other, never endpoint-sharing, and
    * every orientation determinant is an exact multiple of 0.25 well inside
    * double precision, so the oracle's strict-sign test matches JTS's robust
    * predicate bit-for-bit. */
  def qSpjoinCrosses(spark: SparkSession, dir: String): DataFrame = {
    val a = custPoints(spark, dir).select(col("id").as("ida"),
      st_makeline(col("px"), col("py"), col("px") + 6.0, col("py") + 3.0).as("ga"))
    val b = suppPoints(spark, dir).select(col("id").as("idb"),
      st_makeline(col("px") + 0.5, col("py") + 0.5,
                  col("px") + 2.5, col("py") + 6.5).as("gb"))
    SpatialJoin.join(a, "ga", b, "gb",
        SpatialJoin.Config(predicate = "crosses", bucket = 500))
      .select(col("ida"), col("idb"))
  }

  val qSpjoinCrossesSql: String =
    s"""WITH c AS ($custPointsSql), s AS ($suppPointsSql),
       |a AS (SELECT id, px AS ax1, py AS ay1, px + 6.0 AS ax2, py + 3.0 AS ay2 FROM c),
       |b AS (SELECT id, px + 0.5 AS bx1, py + 0.5 AS by1,
       |             px + 2.5 AS bx2, py + 6.5 AS by2 FROM s)
       |SELECT a.id AS ida, b.id AS idb FROM a JOIN b ON
       |     sign((ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1))
       |   * sign((ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1)) < 0
       | AND sign((bx2-bx1)*(ay1-by1) - (by2-by1)*(ax1-bx1))
       |   * sign((bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1)) < 0""".stripMargin

  /** J14 parity gate: the reference's TILE-LOCAL kNN (st_nearest2,
    * knn_2d.hpp:22-233) — each left point matched only within its owner
    * tile. The oracle re-derives the fg tiling (same IEEE arithmetic),
    * assigns owners with the engine's half-open rule, replicates the right
    * side with closed intersection, and ranks by exact squared distance.
    * Distance-only output: tie ORDER is engine-arbitrary, the top-k
    * distance multiset is not. */
  def qKnnTile(spark: SparkSession, dir: String): DataFrame = {
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g1"))
    val supps = suppPoints(spark, dir).select(col("id").as("sid"), col("geom").as("g2"))
    SpatialJoin.knnJoin(custs, "g1", supps, "g2", k = 3,
        SpatialJoin.Config(bucket = 500))
      .select(col("cid"), col("knn_dist").as("dist"))
  }

  val qKnnTileSql: String =
    s"""WITH c AS ($custPointsSql), s AS ($suppPointsSql),
       |pts AS (SELECT px, py FROM c UNION ALL SELECT px, py FROM s),
       |env AS (SELECT min(px) ex0, min(py) ey0, max(px) ex1, max(py) ey1,
       |               count(*) n FROM pts),
       |g AS (SELECT ex0, ey0, ex1, ey1,
       |        greatest(ex1 - ex0, 1e-12) AS gw, greatest(ey1 - ey0, 1e-12) AS gh,
       |        greatest(1, CAST(ceil(CAST(n AS DOUBLE) / 500) AS BIGINT)) AS tiles
       |      FROM env),
       |s1 AS (SELECT *, greatest(1, CAST(floor(sqrt(tiles * gw / gh) + 0.5) AS BIGINT)) AS sx
       |       FROM g),
       |s2 AS (SELECT *, greatest(1, CAST(ceil(CAST(tiles AS DOUBLE) / sx) AS BIGINT)) AS sy
       |       FROM s1),
       |cells AS (SELECT CAST(j * sx + i AS INT) AS tile_id, ex1, ey1,
       |            ex0 + gw * i / sx AS tx0,
       |            ey0 + gh * j / sy AS ty0,
       |            CASE WHEN i = sx - 1 THEN ex1 ELSE ex0 + gw * (i + 1) / sx END AS tx1,
       |            CASE WHEN j = sy - 1 THEN ey1 ELSE ey0 + gh * (j + 1) / sy END AS ty1
       |          FROM s2, generate_series(0, 255) t1(i), generate_series(0, 255) t2(j)
       |          WHERE i < sx AND j < sy),
       |lc AS (SELECT c.id AS cid, c.px, c.py, cells.tile_id FROM c JOIN cells
       |        ON c.px >= tx0 AND (c.px < tx1 OR (c.px = tx1 AND tx1 = ex1))
       |       AND c.py >= ty0 AND (c.py < ty1 OR (c.py = ty1 AND ty1 = ey1))),
       |rc AS (SELECT s.id AS sid, s.px AS qx, s.py AS qy, cells.tile_id FROM s JOIN cells
       |        ON s.px >= tx0 AND s.px <= tx1 AND s.py >= ty0 AND s.py <= ty1),
       |d AS (SELECT lc.cid,
       |        (lc.px - rc.qx) * (lc.px - rc.qx) + (lc.py - rc.qy) * (lc.py - rc.qy) AS d2,
       |        row_number() OVER (PARTITION BY lc.cid ORDER BY
       |          (lc.px - rc.qx) * (lc.px - rc.qx) + (lc.py - rc.qy) * (lc.py - rc.qy)) AS rk
       |      FROM lc JOIN rc ON lc.tile_id = rc.tile_id)
       |SELECT cid, sqrt(d2) AS dist FROM d WHERE rk <= 3""".stripMargin

  /** J14 SQL surface: the q_knn_tile relation as plain SQL text —
    * `JOIN ... ON st_nearest2(g1, g2, 3)` planned by SpatialJoinStrategy
    * as KnnJoinExec in TILE-LOCAL mode (the reference CLI's
    * `-p st_nearest2`, knn_2d.hpp:22-233, reachable without the
    * programmatic API). Shares q_knn_tile's oracle: the tiling is pinned
    * to the gate's bucket=500 (tile-local results DEPEND on the tiling,
    * unlike exact kNN) by planning in a copy of the caller's session with
    * `graft.join.bucket=500`, so adaptive re-planning reads 500 every time
    * and the caller's conf never changes. Distance is recomputed post-join
    * with st_distance (the same JTS distance the engine ranked by), and
    * the plan is asserted to carry a tileLocal KnnJoinExec. */
  def qKnnTileSqlGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, KnnJoinExec, SpatialJoinStrategy}
    val s = Bridge.sessionWith(spark, "graft.join.bucket" -> "500")
    SpatialJoinStrategy.install(s)
    graft.functions.registerAll(s)
    custPoints(s, dir).select(col("id").as("cid"), col("geom").as("g1"))
      .createOrReplaceTempView("gate_knn2_c")
    suppPoints(s, dir).select(col("id").as("sid"), col("geom").as("g2"))
      .createOrReplaceTempView("gate_knn2_s")
    val q = s.sql(
      """SELECT cid, st_distance(g1, g2) AS dist
        |FROM gate_knn2_c c JOIN gate_knn2_s s
        |ON st_nearest2(c.g1, s.g2, 3)""".stripMargin)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = q.queryExecution.executedPlan
    val plans = root +: root.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    require(plans.exists(_.collect {
      case e: KnnJoinExec if e.tileLocal => e }.nonEmpty),
      "q_knn_tile_sql must plan through a tile-local KnnJoinExec")
    q
  }

  val qKnnTileSqlGateSql: String = qKnnTileSql

  /** A1: global space envelope + count over MBBs (the reference's
    * MBB-extraction + stats job pair). */
  def qMbbStats(spark: SparkSession, dir: String): DataFrame =
    partBoxes(spark, dir)
      .withColumn("env", st_envelope(col("geom")))
      .agg(
        min(col("env.xmin")).as("space_xmin"), min(col("env.ymin")).as("space_ymin"),
        max(col("env.xmax")).as("space_xmax"), max(col("env.ymax")).as("space_ymax"),
        count(lit(1)).as("num_objects"))

  val qMbbStatsSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT min(x0) AS space_xmin, min(y0) AS space_ymin,
       |       max(x0+w) AS space_xmax, max(y0+w) AS space_ymax,
       |       count(*) AS num_objects FROM b""".stripMargin

  // ------------------------------------- spatial: area-growth scale lane

  /** Copy-block geometry for the AREA-GROWTH scale lane (round-16).
    *
    * ScaleData stacks sf0.1 copies at `key + copy·10⁷`, and the base
    * gates derive geometry from keys via small moduli (10⁷ ≡ 0 mod 20),
    * so stacked copies land on the SAME lattice positions: density grows
    * with data and every pairwise gate's output grows ∝ copies² — a
    * correct engine workload but not how real corpora grow (they add
    * AREA at roughly constant density). These `_area` twins re-derive
    * geometry with the copy index `floor(key / 10⁷)` translating each
    * copy into its own 400-unit block (10×10 grid in 2-D, 5×5×4 in 3-D):
    * per-block density stays exactly sf0.1's, space grows ∝ copies.
    *
    * At the driver's un-stacked SFs every key is < 10⁷, the copy index
    * is 0, and each twin is BIT-IDENTICAL to its base gate — so the
    * sf0.01 oracle checks the derivation for free, and the sf10 lane
    * gets a non-stacked 100× measurement of the same join kernels.
    * All block offsets are exact integer-valued doubles; the largest
    * squared distance (~3·10⁷) is far inside 2^53, so the plain-SQL
    * oracle stays bit-exact. */
  def partBoxesArea(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
        col("p_partkey").as("id"),
        ((col("p_partkey") % 20) * 10.0 +
          (floor(col("p_partkey") / 10000000L) % 10) * 400.0).as("x0"),
        ((floor(col("p_partkey") / 20) % 20) * 10.0 +
          (floor(col("p_partkey") / 100000000L) % 10) * 400.0).as("y0"),
        (lit(1) + col("p_size") % 10).cast("double").as("w"))
      .withColumn("geom",
        st_makebox(col("x0"), col("y0"), col("x0") + col("w"), col("y0") + col("w")))

  val partBoxesAreaSql: String =
    """SELECT p_partkey AS id,
      | (p_partkey % 20) * 10.0 + (floor(p_partkey / 10000000) % 10) * 400.0 AS x0,
      | (floor(p_partkey / 20) % 20) * 10.0 + (floor(p_partkey / 100000000) % 10) * 400.0 AS y0,
      | CAST(1 + p_size % 10 AS DOUBLE) AS w FROM part""".stripMargin

  def keyPointsArea(spark: SparkSession, dir: String, tbl: String, key: String,
                    mult: Int): DataFrame =
    table(spark, dir, tbl).select(
        col(key).as("id"),
        (((col(key) * mult) % 300).cast("double") +
          (floor(col(key) / 10000000L) % 10) * 400.0).as("px"),
        ((floor(col(key) * mult / 300) % 300).cast("double") +
          (floor(col(key) / 100000000L) % 10) * 400.0).as("py"))
      .withColumn("geom", st_point(col("px"), col("py")))

  def keyPointsAreaSql(tbl: String, key: String, mult: Int): String =
    s"""SELECT $key AS id,
       | CAST(($key * $mult) % 300 AS DOUBLE)
       |   + (floor($key / 10000000) % 10) * 400.0 AS px,
       | CAST(floor($key * $mult / 300) % 300 AS DOUBLE)
       |   + (floor($key / 100000000) % 10) * 400.0 AS py FROM $tbl""".stripMargin

  /** q_spjoin_intersects on area-growth geometry (same engine path:
    * tiled fg join + refpoint dedup + A7 intersection area). */
  def qSpjoinIntersectsArea(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxesArea(spark, dir)
    val a = b.select(col("id").as("id1"), col("geom").as("g1"))
    val c = b.select(col("id").as("id2"), col("geom").as("g2"))
    SpatialJoin.join(a, "g1", c, "g2",
        SpatialJoin.Config(predicate = "intersects", partitioner = "fg", bucket = 500))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        st_intersection_area(col("g1"), col("g2")).as("inter_area"))
  }

  val qSpjoinIntersectsAreaSql: String =
    s"""WITH b AS ($partBoxesAreaSql)
       |SELECT a.id AS id1, c.id AS id2,
       | greatest(0, least(a.x0+a.w, c.x0+c.w) - greatest(a.x0, c.x0)) *
       | greatest(0, least(a.y0+a.w, c.y0+c.w) - greatest(a.y0, c.y0)) AS inter_area
       |FROM b a JOIN b c ON a.id < c.id
       | AND a.x0 <= c.x0 + c.w AND c.x0 <= a.x0 + a.w
       | AND a.y0 <= c.y0 + c.w AND c.y0 <= a.y0 + a.w""".stripMargin

  /** q_spjoin_dwithin on area-growth geometry. */
  def qSpjoinDwithinArea(spark: SparkSession, dir: String): DataFrame = {
    val parts = partBoxesArea(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
    val custs = keyPointsArea(spark, dir, "customer", "c_custkey", 7)
      .select(col("id").as("cid"), col("geom").as("g2"))
    SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "dwithin", distance = 4.0, bucket = 500))
      .select(col("pid"), col("cid"))
  }

  val qSpjoinDwithinAreaSql: String =
    s"""WITH b AS ($partBoxesAreaSql),
       |c AS (${keyPointsAreaSql("customer", "c_custkey", 7)})
       |SELECT b.id AS pid, c.id AS cid FROM b JOIN c ON
       | greatest(b.x0 - c.px, c.px - b.x0 - b.w, 0) * greatest(b.x0 - c.px, c.px - b.x0 - b.w, 0)
       | + greatest(b.y0 - c.py, c.py - b.y0 - b.w, 0) * greatest(b.y0 - c.py, c.py - b.y0 - b.w, 0)
       | <= 16.0""".stripMargin

  /** q_spjoin_contains on area-growth geometry. */
  def qSpjoinContainsArea(spark: SparkSession, dir: String): DataFrame = {
    val parts = partBoxesArea(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
    val custs = keyPointsArea(spark, dir, "customer", "c_custkey", 7)
      .select(col("id").as("cid"), col("geom").as("g2"))
    SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "contains", bucket = 500))
      .select(col("pid"), col("cid"))
  }

  val qSpjoinContainsAreaSql: String =
    s"""WITH b AS ($partBoxesAreaSql),
       |c AS (${keyPointsAreaSql("customer", "c_custkey", 7)})
       |SELECT b.id AS pid, c.id AS cid FROM b JOIN c ON
       | c.px > b.x0 AND c.px < b.x0 + b.w AND c.py > b.y0 AND c.py < b.y0 + b.w""".stripMargin

  /** q_knn on area-growth geometry: exact global kNN, k=3, (distance, sid)
    * tie order. Cross-block winners are legitimate (the join is global);
    * blocks are ≥100 units apart so they are rare, which is the point —
    * candidate sets scale with LOCAL density, not corpus size. */
  def qKnnArea(spark: SparkSession, dir: String): DataFrame = {
    val custs = keyPointsArea(spark, dir, "customer", "c_custkey", 7)
      .select(col("id").as("cid"), col("geom").as("g1"))
    val supps = keyPointsArea(spark, dir, "supplier", "s_suppkey", 13)
      .select(col("id").as("sid"), col("geom").as("g2"))
    SpatialJoin.knnJoinExact(custs, "g1", supps, "g2", k = 3,
        tieBreak = Seq("sid"), cfg = SpatialJoin.Config(bucket = 500))
      .select(col("cid"), col("sid"), col("knn_rank").as("rk"))
  }

  val qKnnAreaSql: String =
    s"""WITH c AS (${keyPointsAreaSql("customer", "c_custkey", 7)}),
       |s AS (${keyPointsAreaSql("supplier", "s_suppkey", 13)})
       |SELECT cid, sid, rk FROM (
       | SELECT c.id AS cid, s.id AS sid, row_number() OVER (
       |   PARTITION BY c.id
       |   ORDER BY (c.px-s.px)*(c.px-s.px) + (c.py-s.py)*(c.py-s.py), s.id) AS rk
       | FROM c CROSS JOIN s) WHERE rk <= 3""".stripMargin

  /** 3-D area-growth cubes: 5×5×4 block grid, stride 400. */
  def partCubesArea(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
      col("p_partkey").as("id"),
      ((col("p_partkey") % 20) * 10.0 +
        (floor(col("p_partkey") / 10000000L) % 5) * 400.0).as("x0"),
      ((floor(col("p_partkey") / 20) % 20) * 10.0 +
        (floor(col("p_partkey") / 50000000L) % 5) * 400.0).as("y0"),
      ((floor(col("p_partkey") / 400) % 20) * 10.0 +
        floor(col("p_partkey") / 250000000L) * 400.0).as("z0"),
      (lit(1) + col("p_size") % 10).cast("double").as("w"))

  val partCubesAreaSql: String =
    """SELECT p_partkey AS id,
      | (p_partkey % 20) * 10.0 + (floor(p_partkey / 10000000) % 5) * 400.0 AS x0,
      | (floor(p_partkey / 20) % 20) * 10.0 + (floor(p_partkey / 50000000) % 5) * 400.0 AS y0,
      | (floor(p_partkey / 400) % 20) * 10.0 + floor(p_partkey / 250000000) * 400.0 AS z0,
      | CAST(1 + p_size % 10 AS DOUBLE) AS w FROM part""".stripMargin

  /** q_spjoin_3d on area-growth geometry. */
  def qSpjoin3dArea(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SpatialJoin3d
    val b = partCubesArea(spark, dir)
    def side(p: String) = b.select(col("id").as(s"${p}id"),
      col("x0").as(s"${p}x0"), col("y0").as(s"${p}y0"), col("z0").as(s"${p}z0"),
      (col("x0") + col("w")).as(s"${p}x1"), (col("y0") + col("w")).as(s"${p}y1"),
      (col("z0") + col("w")).as(s"${p}z1"))
    val lc = SpatialJoin3d.Mbb3Cols("ax0", "ay0", "az0", "ax1", "ay1", "az1")
    val rc = SpatialJoin3d.Mbb3Cols("bx0", "by0", "bz0", "bx1", "by1", "bz1")
    SpatialJoin3d.joinMbb(side("a"), lc, side("b"), rc, cellsPerAxis = 8)
      .where(col("aid") < col("bid"))
      .select(col("aid").as("id1"), col("bid").as("id2"))
  }

  val qSpjoin3dAreaSql: String =
    s"""WITH b AS ($partCubesAreaSql)
       |SELECT a.id AS id1, c.id AS id2 FROM b a JOIN b c ON a.id < c.id
       | AND a.x0 <= c.x0 + c.w AND c.x0 <= a.x0 + a.w
       | AND a.y0 <= c.y0 + c.w AND c.y0 <= a.y0 + a.w
       | AND a.z0 <= c.z0 + c.w AND c.z0 <= a.z0 + a.w""".stripMargin

  /** q_knn_3d on area-growth geometry (SpatialJoin3d.knnJoinMbb, the grid
    * kNN; stacked copies may move it onto the octree). */
  def qKnn3dArea(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SpatialJoin3d
    val custs = table(spark, dir, "customer").select(
      col("c_custkey").as("cid"),
      (((col("c_custkey") * 7) % 300).cast("double") +
        (floor(col("c_custkey") / 10000000L) % 5) * 400.0).as("cx"),
      ((floor(col("c_custkey") * 7 / 300) % 300).cast("double") +
        (floor(col("c_custkey") / 50000000L) % 5) * 400.0).as("cy"),
      (((col("c_custkey") % 20) * 10 + 5).cast("double") +
        floor(col("c_custkey") / 250000000L) * 400.0).as("cz"))
    val parts = partCubesArea(spark, dir).select(col("id").as("sid"),
      col("x0").as("sx0"), col("y0").as("sy0"), col("z0").as("sz0"),
      (col("x0") + col("w")).as("sx1"), (col("y0") + col("w")).as("sy1"),
      (col("z0") + col("w")).as("sz1"))
    val lc = SpatialJoin3d.Mbb3Cols("cx", "cy", "cz", "cx", "cy", "cz")
    val rc = SpatialJoin3d.Mbb3Cols("sx0", "sy0", "sz0", "sx1", "sy1", "sz1")
    SpatialJoin3d.knnJoinMbb(custs, lc, parts, rc, "sid", k = 3,
        cellsPerAxis = 8)
      .select(col("cid"), col("sid"), col("knn_rank").as("rk"))
  }

  val qKnn3dAreaSql: String =
    s"""WITH c AS (SELECT c_custkey AS cid,
       |  CAST((c_custkey * 7) % 300 AS DOUBLE)
       |    + (floor(c_custkey / 10000000) % 5) * 400.0 AS cx,
       |  CAST(floor(c_custkey * 7 / 300) % 300 AS DOUBLE)
       |    + (floor(c_custkey / 50000000) % 5) * 400.0 AS cy,
       |  CAST((c_custkey % 20) * 10 + 5 AS DOUBLE)
       |    + floor(c_custkey / 250000000) * 400.0 AS cz FROM customer),
       |s AS ($partCubesAreaSql),
       |p AS (SELECT c.cid, s.id AS sid,
       |  greatest(s.x0 - c.cx, c.cx - s.x0 - s.w, 0) AS dx,
       |  greatest(s.y0 - c.cy, c.cy - s.y0 - s.w, 0) AS dy,
       |  greatest(s.z0 - c.cz, c.cz - s.z0 - s.w, 0) AS dz
       | FROM c CROSS JOIN s)
       |SELECT cid, sid, rk FROM (
       | SELECT cid, sid, row_number() OVER (PARTITION BY cid
       |   ORDER BY dx*dx + dy*dy + dz*dz, sid) AS rk
       | FROM p) WHERE rk <= 3""".stripMargin

  // ------------------------------------------------------------- relational

  /** TPC-H Q1-flavor aggregate (exact: l_quantity is integer-valued). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      | count(*) AS n_rows, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** W1: per-group top-k with deterministic tie-break. */
  def qWindowTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    table(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
  }

  val qWindowTopkSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey
      |                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      | FROM orders) WHERE rk <= 3""".stripMargin

  /** A6-A9: pairwise overlay measures on intersecting box pairs — union
    * area, jaccard, dice. All lattice-integer shoelace sums, so the JTS
    * overlay areas and the SQL arithmetic agree bit-for-bit. */
  def qPairMeasures(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir)
    val a = b.select(col("id").as("id1"), col("geom").as("g1"))
    val c = b.select(col("id").as("id2"), col("geom").as("g2"))
    SpatialJoin.join(a, "g1", c, "g2",
        SpatialJoin.Config(predicate = "intersects", bucket = 500))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        st_union_area(col("g1"), col("g2")).as("union_area"),
        st_jaccard(col("g1"), col("g2")).as("jac"),
        st_dice(col("g1"), col("g2")).as("dice"))
  }

  val qPairMeasuresSql: String =
    s"""WITH b AS ($partBoxesSql),
       |p AS (SELECT a.id AS id1, c.id AS id2, a.w AS wa, c.w AS wc,
       |  greatest(0, least(a.x0+a.w, c.x0+c.w) - greatest(a.x0, c.x0)) *
       |  greatest(0, least(a.y0+a.w, c.y0+c.w) - greatest(a.y0, c.y0)) AS inter
       | FROM b a JOIN b c ON a.id < c.id
       |  AND a.x0 <= c.x0 + c.w AND c.x0 <= a.x0 + a.w
       |  AND a.y0 <= c.y0 + c.w AND c.y0 <= a.y0 + a.w)
       |SELECT id1, id2, wa*wa + wc*wc - inter AS union_area,
       | inter / (wa*wa + wc*wc - inter) AS jac,
       | 2 * inter / (wa*wa + wc*wc) AS dice
       |FROM p""".stripMargin

  /** A10/F5: exact point-point min distance (JTS point distance is
    * bit-identical to sqrt(dx^2+dy^2) — verified over the lattice). */
  def qMindist(spark: SparkSession, dir: String): DataFrame =
    custPoints(spark, dir)
      .select(col("id"),
        st_distance(col("geom"), st_point(lit(150.0), lit(150.0))).as("dist"))

  val qMindistSql: String =
    s"""WITH c AS ($custPointsSql)
       |SELECT id, sqrt((px-150)*(px-150) + (py-150)*(py-150)) AS dist FROM c""".stripMargin

  /** Full TPC-H Q1 pricing summary with order-independent exact arithmetic
    * (money in cents/basis points as int64; averages are single divisions).
    * Oracle note: DuckDB sum(BIGINT) returns HUGEINT, which pandas-based
    * comparers render as float64 ("...0.0") — every integer sum in the
    * oracle SQL is CAST back to BIGINT so both engines emit int64. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .withColumn("dbp", round(col("l_discount") * 100).cast("long"))
      .withColumn("tbp", round(col("l_tax") * 100).cast("long"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("cents")).as("sum_base_cents"),
        sum(col("cents") * (lit(100L) - col("dbp"))).as("sum_disc_cbp"),
        sum(col("cents") * (lit(100L) - col("dbp")) * (lit(100L) + col("tbp")))
          .as("sum_charge_cbp2"),
        count(lit(1)).as("n"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sum(col("cents")).cast("double") / count(lit(1))).as("avg_cents"))
  }

  val q1PricingSql: String =
    """WITH li AS (SELECT l_returnflag, l_linestatus, l_quantity,
      |  CAST(round(l_extendedprice*100) AS BIGINT) AS cents,
      |  CAST(round(l_discount*100) AS BIGINT) AS dbp,
      |  CAST(round(l_tax*100) AS BIGINT) AS tbp FROM lineitem)
      |SELECT l_returnflag, l_linestatus,
      | sum(l_quantity) AS sum_qty,
      | CAST(sum(cents) AS BIGINT) AS sum_base_cents,
      | CAST(sum(cents * (100 - dbp)) AS BIGINT) AS sum_disc_cbp,
      | CAST(sum(cents * (100 - dbp) * (100 + tbp)) AS BIGINT) AS sum_charge_cbp2,
      | count(*) AS n,
      | sum(l_quantity) / count(*) AS avg_qty,
      | CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents
      |FROM li GROUP BY 1, 2""".stripMargin

  /** J4: st_touches self-join — boxes sharing a boundary but no interior
    * (exercises [[SpatialJoin.selfJoin]], the reference's
    * join_cardinality==1 path with mirrored-pair skip). */
  def qSpjoinTouches(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir).select(col("id"), col("geom"))
    SpatialJoin.selfJoin(b, "geom", "id",
        cfg = SpatialJoin.Config(predicate = "touches", bucket = 500))
      .select(col("l_id").as("id1"), col("r_id").as("id2"))
  }

  val qSpjoinTouchesSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT a.id AS id1, c.id AS id2 FROM b a JOIN b c ON a.id < c.id
       | AND a.x0 <= c.x0 + c.w AND c.x0 <= a.x0 + a.w
       | AND a.y0 <= c.y0 + c.w AND c.y0 <= a.y0 + a.w
       | AND NOT (a.x0 < c.x0 + c.w AND c.x0 < a.x0 + a.w
       |      AND a.y0 < c.y0 + c.w AND c.y0 < a.y0 + a.w)""".stripMargin

  /** P8: coordinate normalization into [0,1] against the global envelope
    * (reference mbb_normalizer). Exact: integer bounds, single division. */
  def qNormalize(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir)
    val stats = b.agg(
      min(col("x0")).as("lox"), min(col("y0")).as("loy"),
      max(col("x0") + col("w")).as("hix"), max(col("y0") + col("w")).as("hiy"))
    b.crossJoin(broadcast(stats)).select(
      col("id"),
      norm_coord(col("x0"), col("lox"), col("hix")).as("nx"),
      norm_coord(col("y0"), col("loy"), col("hiy")).as("ny"))
  }

  val qNormalizeSql: String =
    s"""WITH b AS ($partBoxesSql),
       |s AS (SELECT min(x0) lox, min(y0) loy, max(x0+w) hix, max(y0+w) hiy FROM b)
       |SELECT id, (x0 - lox) / (hix - lox) AS nx, (y0 - loy) / (hiy - loy) AS ny
       |FROM b, s""".stripMargin

  /** P9: grid discretization — snap box corners to a 7-unit grid; collapsed
    * boxes (invalid geometry) drop, mirroring the permissive-null policy. */
  def qSnap(spark: SparkSession, dir: String): DataFrame = {
    val env = st_envelope(st_snaptogrid(col("geom"), lit(7.0)))
    partBoxes(spark, dir)
      .withColumn("env", env)
      .where(col("env").isNotNull)
      .select(col("id"), col("env.xmin").as("sx0"), col("env.ymin").as("sy0"),
        ((col("env.xmax") - col("env.xmin")) * (col("env.ymax") - col("env.ymin")))
          .as("sarea"))
  }

  val qSnapSql: String =
    s"""WITH b AS ($partBoxesSql),
       |s AS (SELECT id,
       |  floor(x0/7.0 + 0.5)*7.0 AS sx0, floor(y0/7.0 + 0.5)*7.0 AS sy0,
       |  floor((x0+w)/7.0 + 0.5)*7.0 AS sx1, floor((y0+w)/7.0 + 0.5)*7.0 AS sy1
       | FROM b)
       |SELECT id, sx0, sy0, (sx1-sx0)*(sy1-sy0) AS sarea FROM s
       |WHERE sx1 > sx0 AND sy1 > sy0""".stripMargin

  /** P9 full discretize_cords port (discretize_cords.cpp:38-333): remap
    * part boxes from the [0,200]^2 lattice space into a [0,1000]^2 integer
    * grid with the reference's exact ceil-affine formula, and emit the
    * discretized MBB + vertex count (the reference's output fields). The
    * oracle reproduces the formula with the SAME left-to-right FP operation
    * order, so ceil landings are bit-identical. */
  def qDiscretize(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Mbb
    val d = st_discretize(col("geom"), Mbb(0, 0, 200, 200), Mbb(0, 0, 1000, 1000))
    partBoxes(spark, dir)
      .withColumn("denv", st_envelope(d))
      .withColumn("nv", st_npoints(d))
      .select(col("id"),
        col("denv.xmin").cast("int").as("dx0"), col("denv.ymin").cast("int").as("dy0"),
        col("denv.xmax").cast("int").as("dx1"), col("denv.ymax").cast("int").as("dy1"),
        col("nv"))
  }

  val qDiscretizeSql: String = {
    def m(e: String): String = s"CAST(ceil(($e - 0.0) / 200.0 * 1000.0 + 0.0) AS INT)"
    s"""WITH b AS ($partBoxesSql)
       |SELECT id, ${m("x0")} AS dx0, ${m("y0")} AS dy0,
       | ${m("x0 + w")} AS dx1, ${m("y0 + w")} AS dy1, 5 AS nv
       |FROM b""".stripMargin
  }

  /** TPC-H Q3 shape: broadcast dim filter -> fact join -> exact integer
    * aggregation (prices in cents x discount basis points, so the sum is
    * order-independent int64 math). */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val orders = table(spark, dir, "orders")
      .withColumn("odate", expr("unix_micros(cast(o_orderdate as timestamp))"))
      .where(col("odate") < lit(883612800000000L)) // 1998-01-01 UTC in micros
      .select("o_orderkey", "o_custkey", "odate")
    val li = table(spark, dir, "lineitem").select(
      col("l_orderkey"),
      (round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev"))
    cust.join(orders, cust("c_custkey") === orders("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("odate"))
      .agg(sum(col("rev")).as("revenue_cbp"), count(lit(1)).as("n_items"))
  }

  val q3JoinSql: String =
    """SELECT o_orderkey, epoch_us(o_orderdate) AS odate,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |     * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_cbp,
      | count(*) AS n_items
      |FROM customer JOIN orders ON c_custkey = o_custkey
      | JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING' AND epoch_us(o_orderdate) < 883612800000000
      |GROUP BY 1, 2""".stripMargin

  /** Semi-structured extraction: JSON props -> typed aggregation. */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  val qJsonExtractSql: String =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      | min(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS min_k,
      | max(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1""".stripMargin

  /** F9: multi-interval temporal predicates over intervals derived from
    * orders (2-interval object vs 1-interval probe; all int64 micros). */
  def qTemporal(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val o = table(spark, dir, "orders")
      .withColumn("s1", expr("unix_micros(cast(o_orderdate as timestamp))"))
      .withColumn("e1", col("s1") + (col("o_orderkey") % 5 + 1) * day)
      .withColumn("s2", col("s1") + lit(10L) * day)
      .withColumn("e2", col("s2") + (col("o_orderkey") % 3 + 1) * day)
      .withColumn("sb", col("s1") + (col("o_custkey") % 14) * day)
      .withColumn("eb", col("sb") + lit(2L) * day)
    val a = array(struct(col("s1").as("start"), col("e1").as("end")),
                  struct(col("s2").as("start"), col("e2").as("end")))
    val b = array(struct(col("sb").as("start"), col("eb").as("end")))
    o.select(col("o_orderkey"),
      intervals_overlap(a, b).as("ov"),
      intervals_contain(a, b).as("cont"),
      intervals_mindist(a, b).as("md"))
  }

  val qTemporalSql: String =
    """WITH t AS (SELECT o_orderkey,
      |  epoch_us(o_orderdate) AS s1,
      |  epoch_us(o_orderdate) + (o_orderkey % 5 + 1) * 86400000000 AS e1,
      |  epoch_us(o_orderdate) + 10 * 86400000000 AS s2,
      |  epoch_us(o_orderdate) + 10 * 86400000000 + (o_orderkey % 3 + 1) * 86400000000 AS e2,
      |  epoch_us(o_orderdate) + (o_custkey % 14) * 86400000000 AS sb,
      |  epoch_us(o_orderdate) + (o_custkey % 14) * 86400000000 + 2 * 86400000000 AS eb
      | FROM orders)
      |SELECT o_orderkey,
      | (s1 <= eb AND sb <= e1) OR (s2 <= eb AND sb <= e2) AS ov,
      | (s1 <= sb AND eb <= e1) OR (s2 <= sb AND eb <= e2) AS cont,
      | least(
      |  CASE WHEN s1 <= eb AND sb <= e1 THEN 0 WHEN s1 > eb THEN s1 - eb ELSE sb - e1 END,
      |  CASE WHEN s2 <= eb AND sb <= e2 THEN 0 WHEN s2 > eb THEN s2 - eb ELSE sb - e2 END) AS md
      |FROM t""".stripMargin

  /** A2/A3 (oracled): per-tile replicated object counts from the partition
    * planner with the fg grid — the whole tiling pipeline (envelope stats →
    * fg split arithmetic → covering index → 1→N tile replication) checked
    * value-for-value against a SQL re-derivation of the grid. The A4
    * summary (mean/stddev, FP-accumulated) stays ScalaTest-gated. */
  def qPartitionStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.api._
    partBoxes(spark, dir).describeSpatialPartitioning("geom", "fg", 500)._1
  }

  /** SQL re-derivation of FixedGridPartitioner + closed-envelope tile
    * replication (tilesFor): same IEEE op order as the Scala code, so grid
    * edges are bit-identical and the per-tile counts integer-exact. Ends at
    * the `cells` CTE (tile_id, tx0, ty0, tx1, ty1) so both the stats and
    * visualizer gates build on the same grid. */
  private val fgCellsSql: String =
    s"""WITH b AS ($partBoxesSql),
       |env AS (SELECT min(x0) ex0, min(y0) ey0, max(x0+w) ex1, max(y0+w) ey1,
       |               count(*) n FROM b),
       |g AS (SELECT ex0, ey0, ex1, ey1,
       |        greatest(ex1 - ex0, 1e-12) AS gw, greatest(ey1 - ey0, 1e-12) AS gh,
       |        greatest(1, CAST(ceil(CAST(n AS DOUBLE) / 500) AS BIGINT)) AS tiles
       |      FROM env),
       |s AS (SELECT *, greatest(1, CAST(floor(sqrt(tiles * gw / gh) + 0.5) AS BIGINT)) AS sx
       |      FROM g),
       |s2 AS (SELECT *, greatest(1, CAST(ceil(CAST(tiles AS DOUBLE) / sx) AS BIGINT)) AS sy
       |       FROM s),
       |cells AS (SELECT CAST(j * sx + i AS INT) AS tile_id,
       |            ex0 + gw * i / sx AS tx0,
       |            ey0 + gh * j / sy AS ty0,
       |            CASE WHEN i = sx - 1 THEN ex1 ELSE ex0 + gw * (i + 1) / sx END AS tx1,
       |            CASE WHEN j = sy - 1 THEN ey1 ELSE ey0 + gh * (j + 1) / sy END AS ty1
       |          FROM s2, generate_series(0, 255) t1(i), generate_series(0, 255) t2(j)
       |          WHERE i < sx AND j < sy)""".stripMargin

  val qPartitionStatsSql: String =
    s"""$fgCellsSql
       |SELECT c.tile_id, count(*) AS n_objects
       |FROM cells c JOIN b ON b.x0 <= c.tx1 AND b.x0 + b.w >= c.tx0
       |                   AND b.y0 <= c.ty1 AND b.y0 + b.w >= c.ty0
       |GROUP BY 1""".stripMargin

  /** Partition visualizer data (reference partition_vis.cpp:20-211): the
    * planned fg tiling's tile RECTANGLES with per-tile replicated counts —
    * exactly the relation `PartitionVis.gnuplotScript` renders (empty tiles
    * kept at 0, as the reference plots every partition-index row). The
    * boundary doubles are gate-able because the oracle re-derives the grid
    * with the same IEEE op order. */
  def qPartitionViz(spark: SparkSession, dir: String): DataFrame =
    graft.viz.PartitionVis.tileFrame(partBoxes(spark, dir), "geom", "fg", 500)

  val qPartitionVizSql: String =
    s"""$fgCellsSql,
       |cnt AS (SELECT c.tile_id, count(*) AS n
       |        FROM cells c JOIN b ON b.x0 <= c.tx1 AND b.x0 + b.w >= c.tx0
       |                           AND b.y0 <= c.ty1 AND b.y0 + b.w >= c.ty0
       |        GROUP BY 1)
       |SELECT c.tile_id, c.tx0 AS xmin, c.ty0 AS ymin, c.tx1 AS xmax, c.ty1 AS ymax,
       | coalesce(cnt.n, 0) AS n_objects
       |FROM cells c LEFT JOIN cnt USING (tile_id)""".stripMargin

  /** G5 distributed variant (hc_dist, partition/DistributedHilbert): fully
    * distributed Hilbert tiling over the WHOLE relation — no driver sample,
    * the 100 TB planning path. The join result is tiling-invariant, so the
    * oracle is plain pair arithmetic. */
  def qSpjoinHcdist(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir)
    val a = b.select(col("id").as("id1"), col("geom").as("g1"))
    val c = b.select(col("id").as("id2"), col("geom").as("g2"))
    SpatialJoin.join(a, "g1", c, "g2",
        SpatialJoin.Config(predicate = "intersects", partitioner = "hc_dist",
          bucket = 500))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
  }

  val qSpjoinHcdistSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT a.id AS id1, c.id AS id2
       |FROM b a JOIN b c ON a.id < c.id
       | AND a.x0 <= c.x0 + c.w AND c.x0 <= a.x0 + a.w
       | AND a.y0 <= c.y0 + c.w AND c.y0 <= a.y0 + a.w""".stripMargin

  /** A4 partition-quality summary (post_process_stat,
    * queryprocessor_2d.cpp:61-106): tile count, replicated-object total,
    * mean/min/max objects per tile over the same SQL-re-derivable fg tiling
    * as q_partition_stats. stddev stays ScalaTest-gated (FP-accumulated,
    * not bit-stable across engines); mean is one exact-int division. */
  def qPartitionQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.api._
    partBoxes(spark, dir).describeSpatialPartitioning("geom", "fg", 500)._2
      .select(col("n_tiles"), col("n_replicated_objects"),
        col("mean_objects"), col("min_objects"), col("max_objects"))
  }

  val qPartitionQualitySql: String =
    s"""WITH pt AS ($qPartitionStatsSql)
       |SELECT count(*) AS n_tiles,
       | CAST(sum(n_objects) AS BIGINT) AS n_replicated_objects,
       | avg(n_objects) AS mean_objects,
       | min(n_objects) AS min_objects, max(n_objects) AS max_objects
       |FROM pt""".stripMargin

  /** S1 gated end-to-end: the reference's native TSV/WKT scan. The query
    * serializes part boxes to a TSV (id TAB wkt TAB w), reads it back
    * through WktTsvSource (schema-on-read, tokenizer semantics, permissive
    * WKT parse at the scan boundary) and emits the parsed envelope —
    * write -> tokenize -> WKT-parse -> envelope must equal the oracle's
    * box arithmetic. */
  def qWktRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = workDir("graft_wkt_roundtrip", dir)
    val good = partBoxes(spark, dir)
      .select(concat_ws("\t", col("id"), st_astext(col("geom")), col("w")).as("line"))
    // P3/P4 gated here too: malformed-WKT and empty-geometry rows are NOT
    // in the oracle — the scan must silently drop them (the reference
    // mapper's permissive skip, manipulate_2d.cpp:182-189) or the hash
    // comparison fails
    val bad = spark.range(1).select(
      explode(array(lit("900001\tPOLYGON((broken\t1"),
                    lit("900002\t\t1"))).as("line"))
    good.unionAll(bad).write.mode("overwrite").text(out)
    graft.sources.WktTsvSource.read(spark, out, shpIdx = 2)
      .withColumn("e", st_envelope(col("geom")))
      .select(col("f1").cast("long").as("id"),
        col("e.xmin").as("bx0"), col("e.ymin").as("by0"),
        col("e.xmax").as("bx1"), col("e.ymax").as("by1"))
  }

  val qWktRoundtripSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT id, x0 AS bx0, y0 AS by0, x0 + w AS bx1, y0 + w AS by1
       |FROM b""".stripMargin

  /** S2 gated end-to-end: the MBB record scan (`--mbbread`), INCLUDING the
    * reference's -1-keyed space-envelope trailer row that readers must drop
    * (manipulate_2d.cpp:199-203). Writes `id x1 y1 x2 y2` TSV + trailer,
    * reads back through WktTsvSource.readMbb. */
  def qMbbRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = workDir("graft_mbb_roundtrip", dir)
    val b = partBoxes(spark, dir)
    val rows = b.select(concat_ws("\t", col("id"), col("x0"), col("y0"),
      col("x0") + col("w"), col("y0") + col("w")).as("line"))
    val trailer = b.agg(
        min(col("x0")).as("a"), min(col("y0")).as("b"),
        max(col("x0") + col("w")).as("c"), max(col("y0") + col("w")).as("d"))
      .select(concat_ws("\t", lit(-1), col("a"), col("b"), col("c"), col("d"))
        .as("line"))
    rows.unionAll(trailer).write.mode("overwrite").text(out)
    graft.sources.WktTsvSource.readMbb(spark, out)
      .select(col("id").cast("long").as("id"),
        col("xmin").as("bx0"), col("ymin").as("by0"),
        col("xmax").as("bx1"), col("ymax").as("by1"))
  }

  val qMbbRoundtripSql: String = qWktRoundtripSql

  /** S4 gated end-to-end: whole-file input (the reference's
    * WholeFileInputFormat, mapreducejava/WholeFileInputFormat.java:14-18) —
    * one document per physical file, read unsplit via Spark's built-in
    * binaryFile source; identity = filename, payload checked by md5.
    * Local-FS sink is a test harness affordance; the read path is the
    * production surface. */
  def qWholeFile(spark: SparkSession, dir: String): DataFrame = {
    val out = workDir("graft_wholefile", dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(out)); new java.io.File(out).mkdirs()
    table(spark, dir, "documents").where(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("text"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, r.getLong(0).toString + ".txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    spark.read.format("binaryFile").load(out + "/*.txt")
      .select(
        regexp_extract(col("path"), "(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
        md5(col("content")).as("content_md5"))
  }

  val qWholeFileSql: String =
    """SELECT doc_id, md5(text) AS content_md5 FROM documents
      |WHERE doc_id % 20 = 0""".stripMargin

  /** M1 (oracled): deterministic key-hash sample — the Spark-first
    * replacement for the reference's coin-flip sampler (sampler.cpp:14-38).
    * Content/key-derived selection is reproducible under task retries
    * (unlike per-row RNG) and cross-engine checkable; the seeded Bernoulli
    * primitive (`df.sample`) remains in the partition planner. */
  def qSample(spark: SparkSession, dir: String): DataFrame =
    partBoxes(spark, dir)
      .where(pmod(col("id") * lit(2654435761L), lit(4294967296L)) < lit(429496729L))
      .select(col("id"))

  val qSampleSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT id FROM b WHERE (id * 2654435761) % 4294967296 < 429496729""".stripMargin

  /** Vocabulary building: top-50 words by frequency, deterministic
    * (count desc, word asc) tie-break. */
  def qWordFreq(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(50)

  val qWordFreqSql: String =
    """SELECT word, n FROM (
      | SELECT word, count(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      | GROUP BY word)
      |ORDER BY n DESC, word ASC LIMIT 50""".stripMargin

  /** Full spatial-store lifecycle through the gate: write the boxes tile-
    * partitioned (with boundary replication), then a containment read that
    * prunes tiles, refines exactly, and collapses replicas. Oracle = the
    * plain window filter. */
  def qStoreContainment(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SpatialStore
    val path = workDir("graft_store_gate", dir)
    SpatialStore.write(partBoxes(spark, dir), "geom", path,
      SpatialJoin.Config(partitioner = "fg", bucket = 300))
    val window = graft.core.GeometryCodec.toWkb(
      graft.core.GeometryCodec.box(50, 40, 170, 180))
    SpatialStore.containmentRead(spark, path, window)
      .select(col("id"), st_area(col("geom")).as("area"))
  }

  val qStoreContainmentSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT id, w * w AS area FROM b
       |WHERE x0 <= 170 AND x0 + w >= 50 AND y0 <= 180 AND y0 + w >= 40""".stripMargin

  /** 3-D spatial-store lifecycle ([[graft.sources.SpatialStore3d]], the
    * reference's queryproc3d partition+containment over octree-leaf
    * tiles): write the part cubes leaf-partitioned with boundary
    * replication, then a containment read that driver-prunes leaves,
    * manifest-prunes files, refines with the six-comparison
    * closed intersect, and collapses replicas. Volume = product of three
    * small exact ints — FP-exact. Oracle = the plain 3-D window filter
    * (query_containment.hpp:112-139 semantics in 3-D). */
  def qStoreContainment3d(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SpatialStore3d
    import graft.operators.SpatialJoin3d.Mbb3Cols
    val path = workDir("graft_store3d_gate", dir)
    val cubes = partCubes(spark, dir).select(col("id"),
      col("x0"), col("y0"), col("z0"),
      (col("x0") + col("w")).as("x1"), (col("y0") + col("w")).as("y1"),
      (col("z0") + col("w")).as("z1"))
    // leafCap 300 = the 2-D gate's per-tile object cap (bucket = 300): at
    // sf0.1 both stores then carry a comparable leaf-dir count. The gate's
    // result is tiling-independent (oracle proves it: a pure window filter,
    // replicas collapse on row ids); deep-octree shapes are exercised by
    // SpatialStore3dSpec/knn3doc, not by over-fragmenting this lifecycle
    // gate to 27-row leaves no 100 TB store would run with.
    SpatialStore3d.write(cubes,
      Mbb3Cols("x0", "y0", "z0", "x1", "y1", "z1"), path, leafCap = 300)
    SpatialStore3d.containmentRead(spark, path,
        Array(50.0, 40.0, 30.0, 170.0, 180.0, 160.0))
      .select(col("id"),
        ((col("x1") - col("x0")) * (col("y1") - col("y0")) *
          (col("z1") - col("z0"))).as("volume"))
  }

  val qStoreContainment3dSql: String =
    s"""WITH b AS ($partCubesSql)
       |SELECT id, w * w * w AS volume FROM b
       |WHERE x0 <= 170 AND x0 + w >= 50
       |  AND y0 <= 180 AND y0 + w >= 40
       |  AND z0 <= 160 AND z0 + w >= 30""".stripMargin

  /** STREAMING spatial ingest gate (batch-twin oracle): the deterministic
    * part boxes are shipped as WKT through a real Structured Streaming
    * query — file source → [[graft.streaming.SpatialIngest.start]]
    * (per-microbatch appends to the store's data files and manifest, meta
    * against a tiling planned on the historical batch) — then the
    * streamed store is containment-read like any batch-written store and
    * oracled with the same plain-SQL window predicate as
    * q_store_containment. All coordinates are integer-valued doubles, so
    * the WKT text roundtrip is exact. */
  def qStreamIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SpatialStore
    import graft.streaming.SpatialIngest
    val base = workDir("graft_stream_ingest", dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(base)) // the gate times the ingest itself: fresh run
    val boxes = partBoxes(spark, dir)
    val env = boxes.select(col("x0").as("__xmin"), col("y0").as("__ymin"),
      (col("x0") + col("w")).as("__xmax"), (col("y0") + col("w")).as("__ymax"))
    // the source landing write and the tile planning (fixed tiling planned
    // on the historical batch — distributed planning, same path the batch
    // writer uses) are independent driver actions over the same scan:
    // overlap them (guide §2.6) so the planner's sample jobs back-fill the
    // write's task tail
    val (_, index) = par2(
      boxes.select(col("id").cast("long").as("id"),
          st_astext(col("geom")).as("wkt"))
        .write.parquet(s"$base/src"),
      SpatialJoin.planTiles(env, env.limit(0),
        SpatialJoin.Config(partitioner = "fg", bucket = 300)))
    val stream = spark.readStream
      .schema("id BIGINT, wkt STRING").parquet(s"$base/src")
    val q = SpatialIngest.start(stream, "wkt", index, s"$base/store", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val window = graft.core.GeometryCodec.toWkb(
      graft.core.GeometryCodec.box(50, 40, 170, 180))
    SpatialStore.containmentRead(spark, s"$base/store", window)
      .select(col("id"), st_area(col("geom")).as("area"))
  }

  /** Same oracle as q_store_containment: the stream must land exactly the
    * batch writer's content. */
  val qStreamIngestSql: String = qStoreContainmentSql

  /** Multi-window batch containment over the spatial store: 25 windows (a
    * 5x5 lattice derived from nation keys) answered in ONE store scan via a
    * broadcast STRtree over the window set — the reference's stubbed
    * multi-window cache-file path (resque_2d.cpp:254-258) generalized.
    * Oracle = the plain SQL range join windows x boxes. */
  def qContainmentMulti(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SpatialStore
    // the gate times the multi-window READ, so the store is written once
    // per input dir under target/ and reused — re-writing per invocation
    // made the timing write-dominated, and the old fixed java.io.tmpdir
    // path let concurrent runs (bench + verify) overwrite each other's
    // store mid-scan
    val path = workDir("graft_store_multi", dir)
    if (!new java.io.File(path, "_graft_meta.json").exists())
      SpatialStore.write(partBoxes(spark, dir), "geom", path,
        SpatialJoin.Config(partitioner = "fg", bucket = 300))
    val windows = table(spark, dir, "nation").select(
        col("n_nationkey").cast("long").as("wid"),
        ((col("n_nationkey") % 5) * 38.0).as("wx"),
        ((floor(col("n_nationkey") / 5) % 5) * 38.0).as("wy"))
      .withColumn("wgeom",
        st_makebox(col("wx"), col("wy"), col("wx") + 25.0, col("wy") + 25.0))
    SpatialStore.multiWindowRead(spark, path, windows, "wid", "wgeom")
      .select(col("wid"), col("id"), st_area(col("geom")).as("area"))
  }

  val qContainmentMultiSql: String =
    s"""WITH b AS ($partBoxesSql),
       |w AS (SELECT CAST(n_nationkey AS BIGINT) AS wid,
       |  (n_nationkey % 5) * 38.0 AS wx,
       |  (CAST(floor(n_nationkey / 5) AS INT) % 5) * 38.0 AS wy FROM nation)
       |SELECT w.wid, b.id, b.w * b.w AS area FROM w JOIN b
       | ON b.x0 <= w.wx + 25 AND b.x0 + b.w >= w.wx
       | AND b.y0 <= w.wy + 25 AND b.y0 + b.w >= w.wy""".stripMargin

  /** Multimodal plumbing (oracled): binary content column -> inferred typed
    * metadata -> mapPartitions feature extraction (stub codec). The stub
    * derives dims from md5 (identical hex in both engines), so the whole
    * binary-column pipeline — cast, metadata struct, batch decode, feature
    * arity — is value-checked end-to-end. */
  def qMultimodal(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val bin = table(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    val feat = Multimodal.withFeatures(
      Multimodal.withMediaMeta(bin, "content", "image/png"), "content")
    feat.select(col("doc_id"),
      col("media_meta.width").as("w"), col("media_meta.height").as("h"),
      size(col("features")).as("dim"))
  }

  val qMultimodalSql: String = {
    def chunk(off: Int): String = (0 until 4)
      .map(i => s"ascii(substr(m, ${off + i}, 1)) * ${math.pow(31, 3 - i).toLong}")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, md5(text) AS m FROM documents)
       |SELECT doc_id,
       | CAST(64 + (${chunk(1)}) % 1024 AS INT) AS w,
       | CAST(64 + (${chunk(5)}) % 1024 AS INT) AS h,
       | 16 AS dim
       |FROM d""".stripMargin
  }

  /** REAL image decode gate: deterministic solid-color PNGs are encoded
    * per row (w/h/gray arithmetic on doc_id), then [[graft.multimodal
    * .Multimodal.analyzeImages]] recovers width, height and mean luminance
    * from the ACTUAL decoded pixels via javax.imageio — the oracle knows
    * the generator arithmetic, so a hash match proves the decode read the
    * real container, not the stub. PNG is lossless, so the uniform-color
    * mean luminance is exact in integers. doc_id >= 0 precondition (Scala
    * % vs SQL % diverge on negatives — corpus ids are non-negative). */
  def qMultimodalReal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, StructType}
    import graft.multimodal.{ImageCodec, Multimodal}
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 200)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withPng = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (16 + id % 32).toInt
        val h = (16 + (id * 7) % 32).toInt
        val g = ((id * 31) % 256).toInt
        org.apache.spark.sql.Row(id, ImageCodec.encodePng(w, h, (g << 16) | (g << 8) | g))
      }
    }.toDF("doc_id", "content")
    Multimodal.analyzeImages(withPng, "content")
      .select(col("doc_id"), col("media_meta.width").as("w"),
        col("media_meta.height").as("h"), col("mean_luma").as("luma"))
  }

  val qMultimodalRealSql: String =
    """SELECT doc_id,
      | CAST(16 + doc_id % 32 AS INT) AS w,
      | CAST(16 + (doc_id * 7) % 32 AS INT) AS h,
      | CAST((doc_id * 31) % 256 AS INT) AS luma
      |FROM documents WHERE doc_id < 200""".stripMargin

  /** REAL image RESIZE gate: deterministic horizontal-gradient PNGs
    * (width from doc_id arithmetic) are nearest-neighbor-resized to a
    * fixed 24×12 ([[graft.multimodal.ImageCodec.resizeNearestPng]] — floor
    * source sampling, PNG lossless round-trip), then RE-ANALYZED from the
    * actual resized bytes. The oracle re-derives the mean luminance of the
    * resized image purely from generator arithmetic: resized column x
    * samples source column x·w/24 (floor), whose gray value is
    * (sx·255)/(w−1) (floor) — every row identical, so mean luma =
    * floor(Σ_x v(x) / 24). A hash match proves decode → resize → encode →
    * decode all moved real pixels. */
  def qMultimodalResize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.{ImageCodec, Multimodal}
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 200)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withPng = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (16 + id % 48).toInt
        val h = (8 + (id * 5) % 24).toInt
        org.apache.spark.sql.Row(id, ImageCodec.encodeGradientPng(w, h))
      }
    }.toDF("doc_id", "content")
    val resized = Multimodal.resizeImages(withPng, "content", 24, 12)
    Multimodal.analyzeImages(resized.select("doc_id", "resized"), "resized")
      .select(col("doc_id"), col("media_meta.width").as("w"),
        col("media_meta.height").as("h"), col("mean_luma").as("luma"))
  }

  val qMultimodalResizeSql: String =
    """SELECT doc_id, 24 AS w, 12 AS h,
      | CAST(list_sum([ (((x * (16 + doc_id % 48)) // 24) * 255)
      |     // (16 + doc_id % 48 - 1)
      |   for x in generate_series(0, 23) ]) // 24 AS INT) AS luma
      |FROM documents WHERE doc_id < 200""".stripMargin

  /** REAL audio decode gate — the WAV twin of q_multimodal_real:
    * deterministic constant-amplitude PCM16 WAVs encoded per row, then
    * [[graft.multimodal.Multimodal.analyzeAudio]] recovers sample rate,
    * frame count and mean |amplitude| from the ACTUAL decoded stream via
    * javax.sound.sampled; the oracle knows the generator arithmetic (PCM
    * decode is exact, constant amplitude ⇒ integer-exact mean). */
  def qMultimodalAudio(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.{AudioCodec, Multimodal}
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 200)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withWav = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val rate = (8000 + (id % 8) * 1000).toInt
        val n = (64 + id % 64).toInt
        val amp = ((id * 13) % 2048).toShort
        org.apache.spark.sql.Row(id,
          AudioCodec.encodeWavPcm16(rate, Array.fill(n)(amp)))
      }
    }.toDF("doc_id", "content")
    Multimodal.analyzeAudio(withWav, "content")
      .select(col("doc_id"), col("media_meta.sample_rate").as("rate"),
        col("media_meta.n_frames").as("n_frames"), col("mean_abs"))
  }

  val qMultimodalAudioSql: String =
    """SELECT doc_id,
      | CAST(8000 + (doc_id % 8) * 1000 AS INT) AS rate,
      | CAST(64 + doc_id % 64 AS INT) AS n_frames,
      | CAST((doc_id * 13) % 2048 AS INT) AS mean_abs
      |FROM documents WHERE doc_id < 200""".stripMargin

  /** REAL video-container parse gate: minimal deterministic MP4s
    * (ftyp+moov/mvhd) per row; [[graft.multimodal.VideoCodec.parseMvhd]]
    * recovers timescale/duration from the actual ISO-BMFF bytes (frame
    * DECODE has no JDK codec and stays stubbed — this gates the honest
    * real part, the container walk). */
  def qMultimodalVideo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.VideoCodec
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 200)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withMp4 = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val ts = (1000 + (id % 10) * 100).toInt
        val dur = (ts * (1 + id % 30)).toInt
        org.apache.spark.sql.Row(id, VideoCodec.encodeMp4Meta(ts, dur))
      }
    }.toDF("doc_id", "content")
    val parse = udf { (bytes: Array[Byte]) =>
      VideoCodec.parseMvhd(bytes).map(i =>
        (i.timescale, i.duration, i.durationSeconds))
    }
    withMp4.select(col("doc_id"), parse(col("content")).as("m"))
      .select(col("doc_id"), col("m._1").as("timescale"),
        col("m._2").as("duration"), col("m._3").as("secs"))
  }

  val qMultimodalVideoSql: String =
    """SELECT doc_id,
      | CAST(1000 + (doc_id % 10) * 100 AS BIGINT) AS timescale,
      | CAST((1000 + (doc_id % 10) * 100) * (1 + doc_id % 30) AS BIGINT) AS duration,
      | CAST(1 + doc_id % 30 AS BIGINT) AS secs
      |FROM documents WHERE doc_id < 200""".stripMargin

  /** Embedding-cosine near-duplicate pairs (oracled): exact brute-force
    * threshold mining over a key-hash subsample — the baseline the LSH
    * variant (Similarity.nearDupPairs, ScalaTest recall-gated) approximates.
    * IDs-only output: pair membership has a ~3e-4 cosine margin to the
    * threshold on this data, far above any accumulation-order noise. */
  def qNearDupCosine(spark: SparkSession, dir: String): DataFrame = {
    val sub = table(spark, dir, "embeddings").where(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    graft.ann.Similarity.nearDupPairsBrute(sub, "vec_id", "embedding", 0.2)
      .select(col("ida"), col("idb"))
  }

  val qNearDupCosineSql: String =
    """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0)
      |SELECT a.vec_id AS ida, b.vec_id AS idb
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(generate_series(1, 64),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |  >= 0.2""".stripMargin

  /** Radius (range) search ([[graft.ann.Similarity.radiusSearchBrute]]):
    * all corpus vectors within a cosine radius of each query — queries
    * broadcast, the corpus never shuffles. IDs-only output (same FP-margin
    * rationale as q_neardup_cosine); the LSH variant's recall is
    * ScalaTest-gated. */
  def qAnnRadius(spark: SparkSession, dir: String): DataFrame = {
    val items = table(spark, dir, "embeddings")
      .where(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    val queries = table(spark, dir, "embeddings")
      .where(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.ann.Similarity.radiusSearchBrute(
        items, "vec_id", "embedding", queries, "qid", "qvec", 0.2)
      .select(col("qid"), col("vec_id"))
  }

  val qAnnRadiusSql: String =
    """WITH it AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
      |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
      |  WHERE vec_id % 100 = 7)
      |SELECT qid, vec_id
      |FROM it CROSS JOIN q
      |WHERE list_sum(list_transform(generate_series(1, 64),
      |        i -> CAST(it.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(it.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |  >= 0.2""".stripMargin

  /** MMR diversified retrieval ([[graft.ann.Mmr]]): greedy
    * relevance-vs-redundancy selection over each query's top-8
    * candidates (k=4, λ=0.7). The candidate and pairwise-cosine
    * relations are checkpointed; the engine's per-query mapGroups greedy
    * and the oracle's recursive-CTE greedy consume identical bits and
    * replay the identical argmax chain (strict-inequality + min-id
    * tie-break; `1 - λ` written as the same subtraction both sides so
    * the IEEE constant matches). */
  def qMmr(spark: SparkSession, dir: String): DataFrame = {
    import graft.ann.Mmr
    val items = table(spark, dir, "embeddings").where(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    val queries = table(spark, dir, "embeddings").where(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val (qc0, cc0) = Mmr.relations(items, "vec_id", "embedding",
      queries, "qid", "qvec", topN = 8)
    val (qc, cc) = writeOracleAuxPar(dir, (qc0, "mmr_qc"), (cc0, "mmr_cc"))
    Mmr.selectFromRelations(qc, cc, k = 4, lambda = 0.7)
  }

  val qMmrSql: String = {
    def score(c: String, sel: String): String =
      s"0.7 * $c.qcos - (1 - 0.7) * coalesce((SELECT max(y.ccos) FROM sym y " +
        s"WHERE y.qid = s.qid AND y.a = $c.cid AND list_contains($sel, y.b)), 0)"
    s"""WITH RECURSIVE sym AS (
       |  SELECT qid, a, b, ccos FROM ${auxSql("mmr_cc")}
       |  UNION ALL SELECT qid, b, a, ccos FROM ${auxSql("mmr_cc")}),
       |qc AS (SELECT qid, cid, qcos FROM ${auxSql("mmr_qc")}),
       |sel(qid, rank, cid, selected) AS (
       |  SELECT qid, 1, cid, [cid] FROM qc q1
       |  WHERE NOT EXISTS (SELECT 1 FROM qc q2 WHERE q2.qid = q1.qid
       |    AND (q2.qcos > q1.qcos OR (q2.qcos = q1.qcos AND q2.cid < q1.cid)))
       |  UNION ALL
       |  SELECT s.qid, s.rank + 1, c.cid, list_append(s.selected, c.cid)
       |  FROM sel s JOIN qc c ON c.qid = s.qid
       |    AND NOT list_contains(s.selected, c.cid)
       |  WHERE s.rank < 4 AND NOT EXISTS (
       |    SELECT 1 FROM qc c2
       |    WHERE c2.qid = s.qid AND NOT list_contains(s.selected, c2.cid)
       |      AND c2.cid != c.cid
       |      AND ((${score("c2", "s.selected")} > ${score("c", "s.selected")})
       |        OR (${score("c2", "s.selected")} = ${score("c", "s.selected")}
       |            AND c2.cid < c.cid))))
       |SELECT qid, rank, cid FROM sel""".stripMargin
  }

  /** SEMANTIC dedup end-to-end — the embedding-space twin of the text
    * dedup composition: exact cosine near-dup pair mining
    * ([[graft.ann.Similarity.nearDupPairsBrute]]) → connected components
    * over the pair graph → one survivor per semantic cluster (min id,
    * reference keep-the-first semantics lifted to embedding space). The
    * oracle replays all three stages in SQL: the cosine join, a recursive
    * reachability CTE, and the survivor filter (with every node present,
    * the survivor IS the component label). */
  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val sub = table(spark, dir, "embeddings").where(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    val pairs = graft.ann.Similarity.nearDupPairsBrute(
      sub, "vec_id", "embedding", 0.3)
    graft.dedup.Components.dedupByComponents(
        sub.select(col("vec_id")), "vec_id", pairs, "ida", "idb")
      .select(col("vec_id"))
  }

  val qSemanticDedupSql: String =
    """WITH RECURSIVE v AS (
      | SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
      |pairs AS (
      | SELECT a.vec_id AS ida, b.vec_id AS idb
      | FROM v a JOIN v b ON a.vec_id < b.vec_id
      | WHERE list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |   / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |    * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |   >= 0.3),
      |sym AS (SELECT ida AS s, idb AS d FROM pairs
      |        UNION ALL SELECT idb, ida FROM pairs),
      |reach(id, lab) AS (
      |  SELECT vec_id, vec_id FROM v
      |  UNION
      |  SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
      |comp AS (SELECT id AS vec_id, min(lab) AS comp FROM reach GROUP BY 1)
      |SELECT vec_id FROM comp WHERE vec_id = comp""".stripMargin

  /** BPE pre-tokenization (oracled): the GPT-2-style regex splitter over
    * documents; output = token count + md5 fingerprint of the joined token
    * stream, so the oracle checks every token boundary without shipping
    * token arrays through the comparer. */
  def qBpe(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions
    val toks = TextFunctions.bpePretokens(col("text"))
    table(spark, dir, "documents").select(
      col("doc_id"),
      size(toks).as("n_pretokens"),
      md5(concat_ws("\u001f", toks).cast("binary")).as("tok_fp"))
  }

  val qBpeSql: String = {
    val pat = graft.text.TextFunctions.BpePretokenPattern.replace("'", "''")
    s"""SELECT doc_id,
       | len(regexp_extract_all(text, '$pat', 1)) AS n_pretokens,
       | md5(array_to_string(regexp_extract_all(text, '$pat', 1), chr(31))) AS tok_fp
       |FROM documents""".stripMargin
  }

  // ------------------------------------------------------------ event/time

  /** Streaming-shaped hourly windowed aggregation, run in batch mode (the
    * exact same transform runs incrementally under readStream; see
    * EventOps + StreamingSpec). Counts + min/max only: selection aggregates
    * are FP-exact. */
  def qEventsWindow(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventOps.hourlyTypeCounts(eventsTable(spark, dir))

  val qEventsWindowSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start, event_type,
      | count(*) AS n_events, min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sessionization (30-min gap) — batch lag/window implementation; the
    * incremental flatMapGroupsWithState version is ScalaTest-checked to
    * agree with this one. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventOps.batchSessionize(
      eventsTable(spark, dir), gapMicros = 30L * 60 * 1000000)

  val qSessionizeSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
      |s AS (SELECT user_id, tsu,
      |  CASE WHEN lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu) IS NULL
      |    OR tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu) > 1800000000
      |  THEN 1 ELSE 0 END AS ns FROM e),
      |t AS (SELECT user_id, tsu, sum(ns) OVER (
      |  PARTITION BY user_id ORDER BY tsu ROWS UNBOUNDED PRECEDING) AS sid FROM s)
      |SELECT user_id, min(tsu) AS session_start, max(tsu) AS session_end,
      | CAST(count(*) AS INT) AS n_events
      |FROM t GROUP BY user_id, sid""".stripMargin

  /** As-of join: every click event attributed to the user's most recent
    * view event at-or-before it ([[graft.operators.AsofJoin]] — union +
    * one running window, no join). The oracle replays the identical
    * union-window algebra; both sides break right-row ties by the
    * (r_uts, r_view_id) payload order (the operator's documented
    * lexicographic-struct tiebreak). */
  def qAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(spark, dir).select(col("event_id"), col("user_id"),
      expr("unix_micros(cast(ts as timestamp))").as("uts"), col("event_type"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("uts"), col("event_id"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("uts"), col("event_id").as("view_id"))
    graft.operators.AsofJoin.asofJoin(clicks, views, Seq("user_id"), "uts", "uts")
      // no-prior-view nulls -> -1 sentinels: nullable BIGINTs go through
      // pandas as float64 on the oracle side ("1.7e+15" vs the int repr)
      .select(col("user_id"), col("uts"), col("event_id"),
        coalesce(col("r_uts"), lit(-1L)).as("r_uts"),
        coalesce(col("r_view_id"), lit(-1L)).as("r_view_id"))
  }

  val qAsofSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) uts, event_type
      |  FROM events),
      |u AS (
      |  SELECT user_id, uts, 1 AS side, uts AS l_uts, event_id AS l_eid,
      |    CAST(NULL AS BIGINT) AS rv_uts, CAST(NULL AS BIGINT) AS rv_vid
      |  FROM e WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, uts, 0, NULL, NULL, uts, event_id
      |  FROM e WHERE event_type = 'view'),
      |w AS (SELECT user_id, side, l_uts, l_eid,
      |    last_value(rv_uts IGNORE NULLS) OVER win AS m_uts,
      |    last_value(rv_vid IGNORE NULLS) OVER win AS m_vid
      |  FROM u WINDOW win AS (PARTITION BY user_id
      |    ORDER BY uts, side, rv_uts, rv_vid
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, l_uts AS uts, l_eid AS event_id,
      |  coalesce(m_uts, -1) AS r_uts, coalesce(m_vid, -1) AS r_view_id
      |FROM w WHERE side = 1""".stripMargin

  /** BM25 retrieval for a small term workload drawn from the corpus itself
    * (each of docs 0-4 contributes its first two tokens as a query). FP
    * accumulation order makes raw scores engine-specific, so the gate uses
    * the checkpoint pattern ([[writeOracleAux]]): the score relation is
    * written once and BOTH engines consume those identical bits — the
    * shipped downstream is the top-10 ranking per query plus
    * floor(score·1e6) (IEEE multiply+floor on identical inputs is
    * bit-deterministic across engines), all integer columns, hash-exact.
    * The formula itself stays spec-pinned against a driver reference in
    * PipelineOpsSpec. */
  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val queries = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(graft.text.TextFunctions.tokens(col("text")), 1, 2))
          .as("term"))
    val aux = writeOracleAux(
      graft.text.TfIdf.bm25(docs, "doc_id", "text", queries, "qid", "term"),
      dir, "bm25_scores")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    aux.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("doc_id"),
        floor(col("score") * 1e6).as("score_micro"))
  }

  /** Token-budget mixture sampling ([[graft.text.TokenBudget]]): three
    * sources sampled to explicit character budgets in deterministic
    * key-hash order (the crossing document kept — budgets are floors),
    * every other source dropped. Pure integer window arithmetic over the
    * existing n_chars column; the oracle replays the identical exclusive
    * running sum. */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame =
    graft.text.TokenBudget.sampleToBudget(
        table(spark, dir, "documents"), "source", "doc_id", "n_chars",
        Map("src0" -> 3000L, "src5" -> 5000L, "src12" -> 2000L))
      .select(col("doc_id"), col("source"), col("tokens_before"))

  val qTokenBudgetSql: String =
    """WITH b AS (SELECT doc_id, source, n_chars,
      |  CASE source WHEN 'src0' THEN 3000 WHEN 'src5' THEN 5000
      |    WHEN 'src12' THEN 2000 END AS budget
      |  FROM documents WHERE source IN ('src0', 'src5', 'src12')),
      |r AS (SELECT doc_id, source, budget,
      |  CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
      |    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS tokens_before
      |  FROM b)
      |SELECT doc_id, source, tokens_before FROM r
      |WHERE tokens_before < budget""".stripMargin

  /** Upsampling mixture epoch ([[graft.text.TokenBudget.upsampleToBudget]],
    * the low-resource half of temperature mixing): budgets past a source's
    * token volume repeat whole epochs (scan-local explode) and fill the
    * remainder from a partial epoch in the same key-hash order as
    * [[qTokenBudget]]. At sf0.01 src3 gets ~2.6 epochs, src7 ~1.1, src14
    * stays sub-epoch — full-epoch replication, exact-multiple remainder
    * arithmetic, and the floors-semantics partial are all exercised. Pure
    * integer arithmetic; the oracle re-derives per-source totals, the
    * div/mod epoch split, and the exclusive running sum. */
  def qTokenUpsample(spark: SparkSession, dir: String): DataFrame =
    graft.text.TokenBudget.upsampleToBudget(
        table(spark, dir, "documents"), "source", "doc_id", "n_chars",
        Map("src3" -> 20000L, "src7" -> 9000L, "src14" -> 2500L))
      .select(col("doc_id"), col("source"), col("epoch"))

  val qTokenUpsampleSql: String =
    """WITH e AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tot,
      |  CAST(CASE source WHEN 'src3' THEN 20000 WHEN 'src7' THEN 9000
      |    WHEN 'src14' THEN 2500 END AS BIGINT) AS budget
      |  FROM documents WHERE source IN ('src3', 'src7', 'src14') GROUP BY 1),
      |whole AS (SELECT d.doc_id, d.source,
      |  CAST(unnest(generate_series(0, e.budget // e.tot - 1)) AS BIGINT)
      |    AS epoch
      |  FROM documents d JOIN e USING (source)),
      |p AS (SELECT d.doc_id, d.source, e.budget // e.tot AS epoch,
      |  e.budget % e.tot AS rem,
      |  CAST(coalesce(sum(d.n_chars) OVER (PARTITION BY d.source
      |    ORDER BY (d.doc_id * 2654435761) % 4294967296, d.doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS tb
      |  FROM documents d JOIN e USING (source) WHERE e.budget % e.tot > 0)
      |SELECT doc_id, source, epoch FROM whole
      |UNION ALL
      |SELECT doc_id, source, epoch FROM p WHERE tb < rem""".stripMargin

  /** FULL curation pipeline end-to-end, raw crawl shape to training-ready
    * organization: HTML wrap → [[graft.functions.StripHtml]] → Gopher
    * quality rules on the STRIPPED text → exact dedup (first-id wins) →
    * per-host cap → deterministic split assignment, with the surviving
    * text md5-pinned. Every stage is SQL-expressible, so unlike the
    * checkpoint-gated families this composition is replayed END TO END by
    * one oracle query — stage boundaries included (a row that leaks past
    * quality into the cap changes host_rank for every later row of its
    * host).
    *
    * Plan note: projection collapse + predicate pushdown make strip_html
    * appear ~12x in the plan text, but codegen common-subexpression
    * elimination collapses the evaluations — measured at 20x corpus: the
    * inline plan runs the strip+quality front in 0.52 s steady-state vs
    * 2.10 s with an explicit persist barrier. Don't "fix" this. */
  def qPipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{CorpusSplit, HostCurate, QualityFilter}
    val html = concat(
      lit("<html><head><style>p{}</style></head><body><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit(" &amp; tail</p><script>var x = 1;</script></body></html>"))
    val stripped = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), strip_html(html).as("text2"))
    val quality = QualityFilter.filter(stripped, "text2",
      QualityFilter.Rules(minWords = 28, maxWords = 85,
        minAvgWordLen = 1.0, maxAvgWordLen = 9.0, minStopRatio = 0.01))
    val w = Window.partitionBy(col("text2")).orderBy(col("doc_id"))
    val exact = quality.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    val capped = HostCurate.capPerHost(exact, "source", "doc_id", k = 8)
    CorpusSplit.assignSplits(capped, "doc_id",
        Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("source"), col("host_rank"), col("split"),
        md5(col("text2").cast("binary")).as("text_md5"))
  }

  val qPipelineE2eSql: String = {
    val wrap = "'<html><head><style>p{}</style></head><body><h1>Doc ' || " +
      "doc_id || '</h1><p>' || text || " +
      "' &amp; tail</p><script>var x = 1;</script></body></html>'"
    val strip = graft.functions.HtmlStrip.sql(s"($wrap)")
    val splitCase = graft.text.CorpusSplit.assignSplitsSql(
      "doc_id", Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
    s"""WITH s AS (SELECT doc_id, source, $strip AS text2 FROM documents),
       |f AS (SELECT doc_id, source, text2,
       |  len(string_split(text2, ' ')) AS nw,
       |  CAST(len(text2) - (len(string_split(text2, ' ')) - 1) AS DOUBLE)
       |    / len(string_split(text2, ' ')) AS awl,
       |  CAST(len(list_filter(string_split(text2, ' '), w -> w IN ($stopList))) AS DOUBLE)
       |    / len(string_split(text2, ' ')) AS sr
       |  FROM s),
       |q AS (SELECT doc_id, source, text2 FROM f
       |  WHERE nw BETWEEN 28 AND 85 AND awl >= 1.0 AND awl <= 9.0
       |    AND sr >= 0.01),
       |e AS (SELECT doc_id, source, text2 FROM (
       |  SELECT doc_id, source, text2,
       |    row_number() OVER (PARTITION BY text2 ORDER BY doc_id) AS rn
       |  FROM q) WHERE rn = 1),
       |c AS (SELECT doc_id, source, text2, host_rank FROM (
       |  SELECT doc_id, source, text2,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS host_rank
       |  FROM e) WHERE host_rank <= 8)
       |SELECT doc_id, source, host_rank, $splitCase AS split,
       | md5(text2) AS text_md5
       |FROM c""".stripMargin
  }

  /** Eval-set hygiene end-to-end: the deterministic split
    * ([[graft.text.CorpusSplit.assignSplits]]) carves a test set, then
    * every TRAIN document is flagged by 3-gram overlap with the test
    * side (the [[graft.text.Decontaminate]] composition) — the leakage
    * report a training run gates on. Fully SQL-expressible: the oracle
    * replays split CASE, shingling, and the distinct-hit count. */
  def qSplitDecon(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{CorpusSplit, TextFunctions}
    val split = CorpusSplit.assignSplits(
      table(spark, dir, "documents"),
      "doc_id", Seq("train" -> 0.95, "test" -> 0.05))
    val sh = split.select(col("doc_id"), col("split"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("s0"))
      .select(col("doc_id"), col("split"), xxhash64(col("s0")).as("s"))
    val testSh = sh.where(col("split") === "test").select("s").distinct()
    sh.where(col("split") === "train")
      .join(broadcast(testSh), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
  }

  val qSplitDeconSql: String = {
    val splitCase = graft.text.CorpusSplit.assignSplitsSql(
      "doc_id", Seq("train" -> 0.95, "test" -> 0.05))
    s"""WITH d AS (SELECT doc_id, $splitCase AS split,
       |  string_split(text, ' ') ws FROM documents),
       |sh AS (SELECT doc_id, split, unnest(list_distinct(
       |  [array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)])) AS s
       |  FROM d WHERE len(ws) >= 3),
       |t AS (SELECT DISTINCT s FROM sh WHERE split = 'test')
       |SELECT sh.doc_id, count(*) AS n_hits
       |FROM sh JOIN t USING (s) WHERE sh.split = 'train'
       |GROUP BY 1""".stripMargin
  }

  /** Per-language LM scoring ([[graft.text.NgramLm.trainByLang]] — the
    * CCNet shape: each document scored under its OWN language's model):
    * two synthetic "languages" (raw text vs reversed text — disjoint
    * trigram distributions), one keyed model trained on the %5==0 slice
    * of each, every document scored under its own. Same checkpointed-
    * score integer downstream as q_lm_score, ranked per language. */
  def qLmByLang(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.NgramLm
    val docs = table(spark, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 2 === 0, lit("en")).otherwise(lit("rv")).as("lang"),
      when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(reverse(col("text"))).as("text"))
    val model = NgramLm.trainByLang(
      docs.where(col("doc_id") % 5 === 0), "lang", "text", n = 3,
      topVPerLang = 1500)
    val aux = writeOracleAux(
      NgramLm.scoreByLang(docs, "doc_id", "lang", "text", model,
        n = 3, alpha = 0.5),
      dir, "lm_bylang_scores")
    aux.select(col("doc_id"), col("lang"), col("n_grams"),
        floor(col("logp") * 1e6).as("lp_micro"))
      .withColumn("lang_rank", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("lp_micro").desc, col("doc_id").asc)))
  }

  val qLmByLangSql: String =
    s"""WITH s AS (SELECT doc_id, lang, n_grams,
       |  CAST(floor(logp * 1e6) AS BIGINT) AS lp_micro
       |  FROM ${auxSql("lm_bylang_scores")})
       |SELECT doc_id, lang, n_grams, lp_micro,
       | row_number() OVER (PARTITION BY lang
       |   ORDER BY lp_micro DESC, doc_id ASC) AS lang_rank
       |FROM s""".stripMargin

  /** Embedding hygiene ([[graft.ann.VectorHygiene]] — the pre-ANN
    * quarantine pass): four corruption classes injected deterministically
    * into the embeddings table (NaN components, zero vectors, truncated
    * dimensionality, 100× scale blow-ups), classified by one codegen scan.
    * Booleans/labels only ship — every rule sits orders of magnitude from
    * its threshold (unit-norm corpus, bounds [0.5, 2], outlier norm² 1e4)
    * so FP accumulation can never flip a gated value. */
  def qVecHygiene(spark: SparkSession, dir: String): DataFrame = {
    val m = col("vec_id") % 50
    val v = col("embedding")
    val nanF = expr("CAST('NaN' AS FLOAT)")
    val mutated = table(spark, dir, "embeddings").withColumn("embedding",
      when(m === 1, transform(v, _ => nanF))
        .when(m === 2, transform(v, _ => lit(0.0f)))
        .when(m === 3, slice(v, 1, 10))
        .when(m === 4, transform(v, x => (x * lit(100.0f)).cast("float")))
        .otherwise(v))
    graft.ann.VectorHygiene.annotate(mutated, "embedding", 64, 0.5, 2.0)
      .select(col("vec_id"), col("dim"), col("has_bad"), col("is_zero"),
        col("reason"), col("clean"))
  }

  val qVecHygieneSql: String =
    """WITH m AS (SELECT vec_id,
      |  CASE WHEN vec_id % 50 = 1 THEN list_transform(embedding, x -> CAST('NaN' AS FLOAT))
      |       WHEN vec_id % 50 = 2 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
      |       WHEN vec_id % 50 = 3 THEN embedding[1:10]
      |       WHEN vec_id % 50 = 4 THEN list_transform(embedding, x -> CAST(x * 100 AS FLOAT))
      |       ELSE embedding END AS v
      |  FROM embeddings),
      |a AS (SELECT vec_id, len(v) AS dim,
      |  len(list_filter(v, x -> x - x != 0 OR isnan(x))) > 0 AS has_bad,
      |  list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS norm2
      |  FROM m),
      |r AS (SELECT vec_id, dim, has_bad,
      |  (NOT has_bad AND norm2 = 0) AS is_zero,
      |  CASE WHEN dim != 64 THEN 'wrong_dim'
      |       WHEN has_bad THEN 'nan_or_inf'
      |       WHEN NOT has_bad AND norm2 = 0 THEN 'zero_vector'
      |       WHEN norm2 < 0.5 THEN 'norm_low'
      |       WHEN norm2 > 2.0 THEN 'norm_high'
      |       ELSE 'clean' END AS reason
      |  FROM a)
      |SELECT vec_id, dim, has_bad, is_zero, reason,
      | (reason = 'clean') AS clean FROM r""".stripMargin

  /** N-gram LM quality scoring ([[graft.text.NgramLm]] — the CCNet
    * perplexity-filter class): model trained on the doc_id%5==0 reference
    * slice, every document scored by mean per-gram log-probability. FP
    * accumulation makes raw scores engine-specific, so the gate uses the
    * bm25 checkpoint pattern: the score relation is written once, BOTH
    * engines consume those identical bits, and the shipped downstream is
    * all-integer — floor(logp·1e6), the head/middle/tail band split the
    * filter would act on, and the per-band rank. Formula itself is
    * spec-pinned against a driver reference in NgramLmSpec. */
  def qLmScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.NgramLm
    val docs = table(spark, dir, "documents")
    val model = NgramLm.train(
      docs.where(col("doc_id") % 5 === 0), "text", n = 3, topV = 2000)
    val aux = writeOracleAux(
      NgramLm.score(docs, "doc_id", "text", model, n = 3, alpha = 0.5),
      dir, "lm_scores")
    val micro = aux.select(col("doc_id"), col("n_grams"),
      floor(col("logp") * 1e6).as("lp_micro"))
    val banded = micro.withColumn("band",
      when(col("lp_micro") >= -5360000L, "head")
        .when(col("lp_micro") >= -5400000L, "middle")
        .otherwise("tail"))
    val w = Window.partitionBy(col("band"))
      .orderBy(col("lp_micro").desc, col("doc_id").asc)
    banded.withColumn("band_rank", row_number().over(w))
  }

  val qLmScoreSql: String =
    s"""WITH s AS (SELECT doc_id, n_grams,
       |  CAST(floor(logp * 1e6) AS BIGINT) AS lp_micro
       |  FROM ${auxSql("lm_scores")}),
       |b AS (SELECT doc_id, n_grams, lp_micro,
       |  CASE WHEN lp_micro >= -5360000 THEN 'head'
       |       WHEN lp_micro >= -5400000 THEN 'middle'
       |       ELSE 'tail' END AS band FROM s)
       |SELECT doc_id, n_grams, lp_micro, band,
       | row_number() OVER (PARTITION BY band
       |   ORDER BY lp_micro DESC, doc_id ASC) AS band_rank
       |FROM b""".stripMargin

  /** DSIR importance resampling ([[graft.text.Dsir]], Xie et al. 2023 —
    * the published target-distribution data-selection step): target model
    * fit on the doc_id%7==0 slice, raw model on the whole corpus, every
    * document weighted by its hashed-uni+bigram log importance ratio,
    * then Gumbel top-k selects 150 documents. FP accumulation makes raw
    * logw engine-specific, so the gate checkpoints (logw, gumbel) once
    * and BOTH engines run the identical downstream over those bits: the
    * selection key `logw + gumbel` is one IEEE addition of identical
    * doubles (bit-stable in both engines), the selected set is the top-150
    * by (key desc, id asc) — TakeOrdered + broadcast semi-join in Spark,
    * an IN-subquery in DuckDB — and every SHIPPED column is integer/bool.
    * Formula exactness and resample determinism are spec-pinned in
    * DsirSpec. */
  def qDsir(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Dsir
    val docs = table(spark, dir, "documents")
    val b = 4096
    val target = Dsir.fitFeatures(docs.where(col("doc_id") % 7 === 0), "text", b)
    val raw = Dsir.fitFeatures(docs, "text", b)
    val w = Dsir.importanceWeights(docs, "doc_id", "text", target, raw, b,
      alpha = 0.5)
    // the same deterministic noise resample() derives internally; stored so
    // the oracle consumes identical bits instead of re-deriving xxhash64
    val u = (pmod(xxhash64(col("doc_id"), lit(42L)), lit(1L << 40))
      .cast("double") + lit(0.5)) / lit((1L << 40).toDouble)
    val aux = writeOracleAux(
      w.withColumn("gumbel", -log(-log(u))), dir, "dsir_weights")
    val picked = Dsir.resample(aux, "doc_id", 150, seed = 42L)
      .select(col("doc_id"))
    aux.join(picked.withColumn("__sel", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_feats"),
        floor(col("logw") * 1e6).as("lw_micro"),
        coalesce(col("__sel"), lit(false)).as("selected"))
  }

  val qDsirSql: String =
    s"""WITH s AS (SELECT doc_id, n_feats, logw, gumbel
       |  FROM ${auxSql("dsir_weights")}),
       |top AS (SELECT doc_id FROM s
       |  ORDER BY logw + gumbel DESC, doc_id ASC LIMIT 150)
       |SELECT doc_id, n_feats,
       | CAST(floor(logw * 1e6) AS BIGINT) AS lw_micro,
       | doc_id IN (SELECT doc_id FROM top) AS selected
       |FROM s""".stripMargin

  /** Quality-classifier gate ([[graft.text.QualityClassifier]] — the
    * fastText-class supervised curation filter): labels are synthesized
    * deterministically as the full positive/negative pairing of every
    * document with its spam-suffixed twin (the paired construction
    * cancels content so the learned direction IS the spam signature —
    * every injected doc rejects with margin < −5, every clean doc keeps),
    * the model trains driver-side (bit-deterministic, spec-pinned; HELD-
    * OUT generalization is QualityClassifierSpec's job), and the
    * corpus-scale scoring pass is checkpointed. The downstream both
    * engines run over identical bits is all integer/bool:
    * floor(margin·1e6), the keep decision (margin > 0 — exact comparison
    * of identical doubles), and the per-decision rank. Sigmoid/prob is
    * deliberately NOT gated — exp() may differ in the last ulp across
    * engines; margin ordering is the decision signal. */
  def qQualityClf(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.QualityClassifier
    val b = 16384
    // repeated so the spam mass stays a meaningful fraction of long docs
    // under the L1-normalized feature geometry
    val spam = lit((" click buy casino pills now free winner jackpot deal" * 3))
    val clean = table(spark, dir, "documents")
    val docs = clean.withColumn("text",
      when(col("doc_id") % 3 === 0, concat(col("text"), spam))
        .otherwise(col("text")))
    // FIXED-SIZE labeled sample: a supervised quality filter trains on a
    // bounded labeled set at any corpus size (labeling the whole corpus
    // tripped train's loud maxSample guard at sf1 — 2x50k rows > 50k).
    // Deterministic, partitioning-invariant top-N by doc-id hash
    // (distributed TakeOrdered, no full sort); below 20k docs (sf <= 0.1)
    // the limit never engages, so smaller-SF results are unchanged.
    val labelBase = clean
      .orderBy(xxhash64(col("doc_id")), col("doc_id")).limit(20000)
    val labeled = labelBase.select(col("text"), lit(1).as("label"))
      .unionByName(labelBase.select(concat(col("text"), spam).as("text"),
        lit(0).as("label")))
    val model = QualityClassifier.train(labeled, "text", "label", b,
      epochs = 40, maxSample = 50000)
    val aux = writeOracleAux(
      QualityClassifier.score(docs, "doc_id", "text", model, b),
      dir, "qclf_margins")
    val w = Window.partitionBy(col("keep"))
      .orderBy(col("m_micro").desc, col("doc_id").asc)
    aux.select(col("doc_id"), col("n_feats"),
        floor(col("margin") * 1e6).as("m_micro"),
        (col("margin") > 0).as("keep"))
      .withColumn("keep_rank", row_number().over(w))
  }

  val qQualityClfSql: String =
    s"""WITH s AS (SELECT doc_id, n_feats,
       |  CAST(floor(margin * 1e6) AS BIGINT) AS m_micro,
       |  margin > 0 AS keep
       |  FROM ${auxSql("qclf_margins")})
       |SELECT doc_id, n_feats, m_micro, keep,
       | row_number() OVER (PARTITION BY keep
       |   ORDER BY m_micro DESC, doc_id ASC) AS keep_rank
       |FROM s""".stripMargin

  /** In-context pretraining layout gate ([[graft.ann.ContextOrder]], Shi
    * et al. 2023): embeddings assign to 16 trained centroids, each cell
    * walks its greedy max-cosine chain. The centroid ASSIGNMENT is
    * checkpointed (engine-internal trained state); the chain itself is
    * pure relational+greedy over (cell, embedding) bits both engines
    * read identically — DuckDB replays it with a recursive CTE whose
    * step picks the same max-cosine/min-id next hop (double-accumulated
    * cosine, the established rank-gate contract). Chain equality is the
    * strongest form of the rank-stability claim: EVERY step's argmax
    * must agree across engines for the gate to hash-match. */
  def qContextOrder(spark: SparkSession, dir: String): DataFrame = {
    import graft.ann.{ContextOrder, IvfIndex}
    val emb = table(spark, dir, "embeddings")
    val model = IvfIndex.train(emb, "embedding", nlist = 16)
    val aux = writeOracleAux(
      IvfIndex.assignments(emb, "vec_id", "embedding", model)
        .select(col("vec_id"), col("list").as("cell")),
      dir, "ctx_cells")
    // maxChain unbounded here: the SQL replay walks ONE chain per cell,
    // so the gate must never engage the block-split path (gate cells are
    // tens of rows; the split is exercised by ContextOrderSpec)
    ContextOrder.orderByContext(
        emb.join(aux, "vec_id").drop("cell"), "vec_id", "embedding", model,
        maxChain = Int.MaxValue)
      .select(col("vec_id"), col("cell"), col("chain_pos"))
  }

  val qContextOrderSql: String =
    s"""WITH RECURSIVE v AS (
       |  SELECT c.vec_id, c.cell, e.embedding
       |  FROM ${auxSql("ctx_cells")} c JOIN embeddings e USING (vec_id)),
       |chain AS (
       |  SELECT cell, vec_id, 1 AS pos, [vec_id] AS visited
       |  FROM (SELECT cell, min(vec_id) AS vec_id FROM v
       |        WHERE cell <> -1 GROUP BY cell)
       |  UNION ALL
       |  SELECT cell, vec_id, pos + 1, list_append(visited, vec_id) FROM (
       |    SELECT c.cell, b.vec_id, c.pos, c.visited,
       |      row_number() OVER (PARTITION BY c.cell ORDER BY
       |        list_sum(list_transform(generate_series(1, 64),
       |          i -> CAST(cur.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |        / (sqrt(list_sum(list_transform(cur.embedding,
       |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |         * sqrt(list_sum(list_transform(b.embedding,
       |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
       |        b.vec_id ASC) AS rn
       |    FROM chain c
       |    JOIN v cur ON cur.cell = c.cell AND cur.vec_id = c.vec_id
       |    JOIN v b ON b.cell = c.cell
       |      AND NOT list_contains(c.visited, b.vec_id))
       |  WHERE rn = 1)
       |SELECT vec_id, cell, pos AS chain_pos FROM chain
       |UNION ALL
       |SELECT vec_id, cell,
       |  row_number() OVER (ORDER BY vec_id) AS chain_pos
       |FROM v WHERE cell = -1""".stripMargin

  /** Streaming curation gate ([[graft.streaming.CurateIngest]] — the
    * model-scored filter as an operational loop): the oracle reads the
    * BATCH scorer's checkpoint while the gate output reads the store the
    * STREAM landed, so any stream/batch divergence — scoring bits, the
    * keep decision, a lost or duplicated row across the two microbatch
    * generations — hash-fails the gate. Downstream is the established
    * all-integer shape (floor micro-margin + exact keep compare). */
  def qStreamCurate(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.CurateIngest
    import graft.text.QualityClassifier
    val b = 4096
    val base = workDir("graft_stream_curate", dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(base)) // fresh lifecycle each run
    val spam = lit(" click buy casino pills now free winner jackpot deal" * 3)
    val docs = table(spark, dir, "documents")
      .withColumn("text",
        when(col("doc_id") % 3 === 0, concat(col("text"), spam))
          .otherwise(col("text")))
      .select(col("doc_id"), col("text"))
    // model quality is q_quality_clf's contract; here a cheap slice
    // pairing suffices — the gate's contract is stream == batch bits.
    // TrainIdCap bounds the labeled set regardless of corpus scale: the
    // stacked-copy SF lanes multiply rows, not information, so an
    // uncapped %5 slice grows with SF until it trips train's maxSample
    // guard (it did, at sf10's 500k docs)
    val slice = docs.where(col("doc_id") % 5 === 0 &&
      col("doc_id") < TrainIdCap)
    val model = QualityClassifier.train(
      slice.select(col("text"), lit(1).as("label"))
        .unionByName(slice.select(concat(col("text"), spam).as("text"),
          lit(0).as("label"))),
      "text", "label", b, epochs = 20, maxSample = 50000)
    // the batch twin (-> the oracle's bits) and the stream's source
    // landing are independent: overlap the full-corpus scoring write with
    // the two src writes (guide §2.6; the src pair stays SEQUENTIAL with
    // respect to each other — concurrent appends to one directory race
    // the shared _temporary staging dir)
    par2(
      writeOracleAux(
        QualityClassifier.score(docs, "doc_id", "text", model, b)
          .withColumn("keep", col("margin") > 0.0),
        dir, "stream_curate_scores"),
      {
        // the stream's source files. repartition(2) pins the FILE COUNT:
        // an unpinned write emits one file per scan task, so the
        // microbatch count under maxFilesPerTrigger=4 scaled with CORE
        // COUNT (sf1 lane: 16 microbatches at 32c vs 4 at 8c — 14.3 s vs
        // 5.6 s, each batch paying fixed lifecycle cost). Scores are
        // batch-boundary-independent (frozen model; stream == batch is
        // the spec'd contract), so the pin cannot change results; at
        // sf0.1 each write already produced one file, so the bench
        // lane's batch structure is unchanged.
        docs.where(col("doc_id") % 2 === 0)
          .repartition(2).write.parquet(s"$base/src")
        docs.where(col("doc_id") % 2 === 1)
          .repartition(2).write.mode("append").parquet(s"$base/src")
      })
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 4).parquet(s"$base/src")
    val q = CurateIngest.start(stream, "doc_id", "text", model, b,
      threshold = 0.0, s"$base/kept", s"$base/scores", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$base/scores")
      .select(col("doc_id"), col("n_feats"),
        floor(col("margin") * 1e6).as("m_micro"), col("keep"))
  }

  val qStreamCurateSql: String =
    s"""SELECT doc_id, n_feats,
       | CAST(floor(margin * 1e6) AS BIGINT) AS m_micro, keep
       |FROM ${auxSql("stream_curate_scores")}""".stripMargin

  /** License-detection gate ([[graft.text.LicenseDetect]] — the crawl
    * lane's permissive-subset signal): six marker classes injected
    * deterministically (incl. a two-link page pinning leftmost-wins and
    * a cc0+licenses page pinning class priority), every byte of the
    * classification replayed by DuckDB with the same alternation-free
    * patterns (Java regex == RE2 on this class, the redact contract). */
  def qLicense(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.LicenseDetect
    val m = col("doc_id") % 7
    def link(code: String) =
      s"""<a rel="license" href="https://creativecommons.org/licenses/$code/4.0/">l</a>"""
    val lic = when(m === 0, lit(link("by-nc-sa")))
      .when(m === 1, lit(link("by")))
      .when(m === 2, lit("""<a href="https://creativecommons.org/publicdomain/zero/1.0/">cc0</a>"""))
      .when(m === 3, lit("badge: creativecommons.org/publicdomain/mark/1.0/"))
      .when(m === 4, lit(link("by-sa") + link("by-nc")))
      .when(m === 5, lit(link("by-nd") +
        """<a href="https://creativecommons.org/publicdomain/zero/1.0/">also cc0</a>"""))
      .otherwise(lit(""))
    val html = concat(lit("<html><body><p>"), col("text"), lit("</p>"),
      lic, lit("</body></html>"))
    table(spark, dir, "documents")
      .select(col("doc_id"), LicenseDetect.detectLicense(html).as("license"))
      .withColumn("permissive", graft.text.LicenseDetect.isPermissive(col("license")))
  }

  val qLicenseSql: String = {
    def link(code: String) =
      s"""<a rel="license" href="https://creativecommons.org/licenses/$code/4.0/">l</a>"""
    s"""WITH h AS (SELECT doc_id, lower('<html><body><p>' || text || '</p>' ||
       |  CASE doc_id % 7
       |    WHEN 0 THEN '${link("by-nc-sa")}'
       |    WHEN 1 THEN '${link("by")}'
       |    WHEN 2 THEN '<a href="https://creativecommons.org/publicdomain/zero/1.0/">cc0</a>'
       |    WHEN 3 THEN 'badge: creativecommons.org/publicdomain/mark/1.0/'
       |    WHEN 4 THEN '${link("by-sa") + link("by-nc")}'
       |    WHEN 5 THEN '${link("by-nd")}<a href="https://creativecommons.org/publicdomain/zero/1.0/">also cc0</a>'
       |    ELSE '' END || '</body></html>') AS hh
       |  FROM documents),
       |t AS (SELECT doc_id,
       |  CASE WHEN regexp_matches(hh, 'creativecommons\\.org/publicdomain/zero/') THEN 'cc0'
       |       WHEN regexp_matches(hh, 'creativecommons\\.org/publicdomain/mark/') THEN 'publicdomain'
       |       WHEN regexp_extract(hh, 'creativecommons\\.org/licenses/([a-z][a-z-]*)[/"]', 1) <> ''
       |         THEN 'cc-' || regexp_extract(hh, 'creativecommons\\.org/licenses/([a-z][a-z-]*)[/"]', 1)
       |       ELSE 'none' END AS license
       |  FROM h)
       |SELECT doc_id, license,
       | license IN ('cc0', 'publicdomain', 'cc-by', 'cc-by-sa') AS permissive
       |FROM t""".stripMargin
  }

  /** Media-type sniffing gate ([[graft.multimodal.TypeSniff]] — the
    * router in front of the decode lanes): a mixed binary fixture built
    * by the engine's own codecs (real PNG/WAV/MP4 bytes) plus markup,
    * JPEG-magic and plain-text rows is checkpointed, and both engines
    * classify those exact bytes — Spark via the hex-prefix expression,
    * DuckDB via [[graft.multimodal.TypeSniff.sql]] (the same rule list,
    * drift-pinned by TypeSniffSpec). */
  def qSniff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.{AudioCodec, ImageCodec, TypeSniff, VideoCodec}
    val base = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val mixed = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val bytes = (id % 6) match {
          case 0 => ImageCodec.encodePng(4, 4, (id % 0xFFFFFF).toInt)
          case 1 => AudioCodec.encodeWavPcm16(8000,
            Array.tabulate(16)(i => ((id * 7 + i) % 251).toShort))
          case 2 => VideoCodec.encodeMp4Meta(1000, (1000 + id % 5000).toInt)
          case 3 => s"<html><body><p>$text</p></body></html>".getBytes("UTF-8")
          case 4 => Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte) ++
            text.getBytes("UTF-8")
          case _ => text.getBytes("UTF-8")
        }
        org.apache.spark.sql.Row(id, bytes)
      }
    }
    val aux = writeOracleAux(mixed.toDF("doc_id", "content"), dir, "sniff_bytes")
    aux.select(col("doc_id"),
      graft.multimodal.TypeSniff.sniffMediaType(col("content")).as("media_type"))
  }

  val qSniffSql: String =
    s"""SELECT doc_id, ${graft.multimodal.TypeSniff.sql("content")} AS media_type
       |FROM ${auxSql("sniff_bytes")}""".stripMargin

  /** Permissive-subset curation capstone — the session's crawl-lane
    * additions composed end-to-end: a mixed binary lake (codec-built
    * PNG/WAV/MP4 rows + HTML pages carrying injected license markers) is
    * ROUTED by [[graft.multimodal.TypeSniff]] (only markup reaches the
    * text lane), license-classified ([[graft.text.LicenseDetect]]),
    * filtered to the permissive set, then model-scored
    * ([[graft.text.QualityClassifier]]) with margin > 0 as the final
    * keep. ONE oracle replays the whole chain: sniff + license via their
    * SQL replays over the checkpointed bytes, margins from the batch
    * scorer's checkpoint — per-stage decisions and the surviving doc set
    * all hash-gated. */
  def qCurateV2(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.TypeSniff
    import graft.text.{LicenseDetect, QualityClassifier}
    val b = 4096
    val m7 = col("doc_id") % 7
    val spam = lit(" click buy casino pills now free winner jackpot deal" * 3)
    // HTML pages: license badge class by doc_id%7 (two unlicensed
    // classes), spam suffix on doc_id%3 — the quality signal
    def link(code: String) =
      s"""<a rel="license" href="https://creativecommons.org/licenses/$code/4.0/">l</a>"""
    val badge = when(m7 === 0, lit(link("by")))
      .when(m7 === 1, lit(link("by-sa")))
      .when(m7 === 2, lit(link("by-nc")))
      .when(m7 === 3, lit("""<a href="https://creativecommons.org/publicdomain/zero/1.0/">z</a>"""))
      .otherwise(lit(""))
    val text = when(col("doc_id") % 3 === 0, concat(col("text"), spam))
      .otherwise(col("text"))
    val html = concat(lit("<html><body><p>"), text, lit("</p>"), badge,
      lit("</body></html>"))
    // every 4th row is a binary distractor the router must keep out of
    // the text lane
    val content = when(col("doc_id") % 4 === 0,
        unhex(lit("89504E470D0A1A0A" + "00" * 16)))
      .otherwise(encode(html, "UTF-8"))
    val lake = writeOracleAux(
      table(spark, dir, "documents").select(col("doc_id"),
        content.as("content")),
      dir, "curate2_lake")
    val routed = lake
      .withColumn("media_type", TypeSniff.sniffMediaType(col("content")))
      .withColumn("page", decode(col("content"), "UTF-8"))
    val licensed = routed.where(col("media_type") === "markup")
      .withColumn("license", LicenseDetect.detectLicense(col("page")))
      .withColumn("permissive", LicenseDetect.isPermissive(col("license")))
    // classifier: trained on the permissive pages' clean/spam pairing,
    // id-capped like q_stream_curate's slice (bounded labeled set at any
    // corpus scale — uncapped it trips train's maxSample guard at sf10)
    val slice = licensed.where(col("permissive") &&
      col("doc_id") < TrainIdCap)
    val model = QualityClassifier.train(
      slice.select(col("page").as("text"), lit(1).as("label"))
        .unionByName(slice.select(concat(col("page"), spam).as("text"),
          lit(0).as("label"))),
      "text", "label", b, epochs = 20, maxSample = 50000)
    // score EVERY routed page (not just permissive) — both because a real
    // pipeline records the quality signal corpus-wide and because an
    // all-rows margin keeps the gated column null-free (a NULL BIGINT
    // round-trips as float64 through the driver's pandas path)
    val margins = writeOracleAux(
      QualityClassifier.score(licensed, "doc_id", "page", model, b),
      dir, "curate2_margins")
    licensed.select(col("doc_id"), col("media_type"), col("license"),
        col("permissive"))
      .join(margins.select(col("doc_id"),
        floor(col("margin") * 1e6).as("m_micro")), Seq("doc_id"), "left")
      .withColumn("kept",
        col("permissive") && coalesce(col("m_micro") > 0L, lit(false)))
  }

  val qCurateV2Sql: String =
    s"""WITH lake AS (SELECT doc_id, content FROM ${auxSql("curate2_lake")}),
       |r AS (SELECT doc_id, content,
       |  ${graft.multimodal.TypeSniff.sql("content")} AS media_type FROM lake),
       |l AS (SELECT doc_id, media_type, lower(decode(content)) AS hh
       |  FROM r WHERE media_type = 'markup'),
       |lic AS (SELECT doc_id, media_type,
       |  CASE WHEN regexp_matches(hh, 'creativecommons\\.org/publicdomain/zero/') THEN 'cc0'
       |       WHEN regexp_matches(hh, 'creativecommons\\.org/publicdomain/mark/') THEN 'publicdomain'
       |       WHEN regexp_extract(hh, 'creativecommons\\.org/licenses/([a-z][a-z-]*)[/"]', 1) <> ''
       |         THEN 'cc-' || regexp_extract(hh, 'creativecommons\\.org/licenses/([a-z][a-z-]*)[/"]', 1)
       |       ELSE 'none' END AS license
       |  FROM l),
       |p AS (SELECT doc_id, media_type, license,
       |  license IN ('cc0', 'publicdomain', 'cc-by', 'cc-by-sa') AS permissive
       |  FROM lic),
       |m AS (SELECT doc_id, CAST(floor(margin * 1e6) AS BIGINT) AS m_micro
       |  FROM ${auxSql("curate2_margins")})
       |SELECT p.doc_id, p.media_type, p.license, p.permissive, m.m_micro,
       | p.permissive AND coalesce(m.m_micro > 0, false) AS kept
       |FROM p LEFT JOIN m ON p.doc_id = m.doc_id""".stripMargin

  /** VIDEO near-dup gate — the container lane of the multimodal dedup
    * triad: 120 real ISO-BMFF files in 30 groups of 4, each group sharing
    * 12 sample payloads with member m swapping sample m for a
    * member-unique payload. [[graft.multimodal.VideoDedup.sampleHashes]]
    * recovers per-sample hashes from the ACTUAL stsz+mdat structure, the
    * 8-byte hash relation is checkpointed, and both engines run the
    * identical Jaccard join downstream (in-group expected 10/14 = 0.714 ≥
    * 0.6; cross-group shares nothing). Structure round-trip + quarantine
    * are spec-pinned in VideoDedupSpec. */
  def qVideoNeardup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.VideoDedup
    import graft.dedup.TextDedup
    val aux = writeOracleAux(
      VideoDedup.sampleHashes(videoFixture(spark, dir), "doc_id", "content"),
      dir, "video_samples")
    TextDedup.keyJaccardPairs(aux, "doc_id", "shash", 0.6)
  }

  val qVideoNeardupSql: String =
    s"""WITH c AS (SELECT doc_id, shash FROM ${auxSql("video_samples")}),
       |n AS (SELECT doc_id, count(*) AS nc FROM c GROUP BY 1),
       |shared AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS sh
       |  FROM c a JOIN c b ON a.shash = b.shash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT ida, idb,
       | CAST(sh AS DOUBLE) / (na.nc + nb.nc - sh) AS jaccard
       |FROM shared
       |JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb
       |WHERE CAST(sh AS DOUBLE) / (na.nc + nb.nc - sh) >= 0.6""".stripMargin

  /** VIDEO dedup END-TO-END — the multimodal twin of [[qSemanticDedup]]:
    * the same 30×4 sample-swapped fixture as [[qVideoNeardup]], composed
    * through pair mining → connected components → one survivor per
    * cluster (min id, keep-the-first). The oracle replays all three
    * stages over the checkpointed sample-hash relation: the Jaccard join,
    * a recursive reachability CTE, and the survivor filter. Expected: the
    * 30 group-minimum ids. */
  def qVideoDedupE2e(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.VideoDedup
    import graft.dedup.{Components, TextDedup}
    val aux = writeOracleAux(
      VideoDedup.sampleHashes(videoFixture(spark, dir), "doc_id", "content"),
      dir, "video_samples_e2e")
    val pairs = TextDedup.keyJaccardPairs(aux, "doc_id", "shash", 0.6)
    Components.dedupByComponents(
        aux.select(col("doc_id")).distinct(), "doc_id", pairs, "ida", "idb")
      .select(col("doc_id"))
  }

  val qVideoDedupE2eSql: String =
    s"""WITH RECURSIVE c AS (SELECT doc_id, shash FROM ${auxSql("video_samples_e2e")}),
       |n AS (SELECT doc_id, count(*) AS nc FROM c GROUP BY 1),
       |shared AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS sh
       |  FROM c a JOIN c b ON a.shash = b.shash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT ida, idb FROM shared
       |  JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb
       |  WHERE CAST(sh AS DOUBLE) / (na.nc + nb.nc - sh) >= 0.6),
       |sym AS (SELECT ida AS s, idb AS d FROM pairs
       |        UNION ALL SELECT idb, ida FROM pairs),
       |ids AS (SELECT DISTINCT doc_id FROM c),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM ids
       |  UNION
       |  SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
       |comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1)
       |SELECT doc_id FROM comp WHERE doc_id = comp""".stripMargin

  /** Shared 30×4 sample-swapped MP4 fixture for the video dedup gates. */
  private def videoFixture(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.VideoCodec
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 120)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val group = id / 4
        val member = (id % 4).toInt
        val samples = Array.tabulate(12) { s =>
          if (s == member)
            Array.tabulate(96)(j => ((id * 13 + j * 5 + 7) % 251).toByte)
          else
            Array.tabulate(96)(j => ((group * 31 + s * 7 + j) % 251).toByte)
        }
        org.apache.spark.sql.Row(id,
          VideoCodec.encodeMp4WithSamples(1000, 12000, samples))
      }
    }.toDF("doc_id", "content")
  }

  /** Content-defined-chunking blob dedup ([[graft.dedup.BinaryDedup]]):
    * each document yields two binary blobs — its repeated text and a
    * prefix-mutated twin — so the defining CDC property (boundaries
    * re-sync after an insertion; fixed blocks would never realign) is what
    * actually produces the pairs. The distinct chunk relation is
    * checkpointed and BOTH engines consume those bits: the engine runs
    * [[graft.dedup.TextDedup.keyJaccardPairs]] over it, the oracle the
    * same join/threshold in SQL (jaccard = one division of exact ints —
    * FP-exact). Kernel semantics (bounds, re-sync, determinism) are
    * spec-pinned in BinaryDedupSpec. */
  def qCdcDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.{BinaryDedup, TextDedup}
    val base = table(spark, dir, "documents").where(col("doc_id") < 200)
    val blobs = base.select(explode(array(
        struct((col("doc_id") * 2).as("bid"),
          encode(repeat(col("text"), 8), "UTF-8").as("content")),
        struct((col("doc_id") * 2 + 1).as("bid"),
          encode(concat(lit("MUTATED-PREFIX::"), repeat(col("text"), 8)),
            "UTF-8").as("content")))).as("b"))
      .select(col("b.bid").as("bid"), col("b.content").as("content"))
    val chunks = BinaryDedup.chunkTable(blobs, "bid", "content",
      minSize = 64, avgBits = 8, maxSize = 1024)
    val aux = writeOracleAux(chunks, dir, "cdc_chunks")
    TextDedup.keyJaccardPairs(aux, "bid", "chash", 0.5)
  }

  val qCdcDedupSql: String =
    s"""WITH c AS (SELECT bid, chash FROM ${auxSql("cdc_chunks")}),
       |n AS (SELECT bid, count(*) AS nc FROM c GROUP BY 1),
       |shared AS (SELECT a.bid AS ida, b.bid AS idb, count(*) AS sh
       |  FROM c a JOIN c b ON a.chash = b.chash AND a.bid < b.bid
       |  GROUP BY 1, 2)
       |SELECT ida, idb,
       | CAST(sh AS DOUBLE) / (na.nc + nb.nc - sh) AS jaccard
       |FROM shared
       |JOIN n na ON na.bid = ida JOIN n nb ON nb.bid = idb
       |WHERE CAST(sh AS DOUBLE) / (na.nc + nb.nc - sh) >= 0.5""".stripMargin

  /** INCREMENTAL blob near-dup ([[graft.dedup.BinaryDedup]]
    * matchesAgainstStore — the binary corpus-refresh lane): the store is
    * the chunk relation of batch-1 blobs (docs 0-99; blobs never
    * re-chunked), the new batch is 100 fresh blobs (docs 100-199) plus
    * prefix-mutated twins of the first 50 stored ones. Both chunk
    * relations are checkpointed; engine and oracle run the identical
    * join/threshold over those bits. Matches = the twins whose blobs are
    * long enough that one mutated chunk stays under half the set (short
    * 2-3-chunk blobs legitimately fall below 0.5), plus any
    * exact-duplicate texts the base corpus carries. */
  def qCdcIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.BinaryDedup
    val docs = table(spark, dir, "documents")
    val storeBlobs = docs.where(col("doc_id") < 100)
      .select(col("doc_id").as("bid"),
        encode(repeat(col("text"), 8), "UTF-8").as("content"))
    val newBlobs = docs.where(col("doc_id") >= 100 && col("doc_id") < 200)
      .select(col("doc_id").as("bid"),
        encode(repeat(col("text"), 8), "UTF-8").as("content"))
      .unionByName(docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 20000L).as("bid"),
          encode(concat(lit("MUT::"), repeat(col("text"), 8)), "UTF-8")
            .as("content")))
    val (auxStore, auxNew) = writeOracleAuxPar(dir,
      (BinaryDedup.chunkTable(storeBlobs, "bid", "content", 64, 8, 1024),
        "cdc_store"),
      (BinaryDedup.chunkTable(newBlobs, "bid", "content", 64, 8, 1024),
        "cdc_newbatch"))
    BinaryDedup.matchChunkTables(auxNew, "bid", auxStore, 0.5)
  }

  val qCdcIncrementalSql: String =
    s"""WITH nc AS (SELECT bid, chash FROM ${auxSql("cdc_newbatch")}),
       |sc AS (SELECT bid AS store_id, chash FROM ${auxSql("cdc_store")}),
       |na AS (SELECT bid, count(*) AS n FROM nc GROUP BY 1),
       |nb AS (SELECT store_id, count(*) AS n FROM sc GROUP BY 1),
       |shared AS (SELECT nc.bid, sc.store_id, count(*) AS sh
       |  FROM nc JOIN sc ON nc.chash = sc.chash GROUP BY 1, 2)
       |SELECT bid, store_id,
       | CAST(sh AS DOUBLE) / (na.n + nb.n - sh) AS jaccard
       |FROM shared JOIN na USING (bid) JOIN nb USING (store_id)
       |WHERE CAST(sh AS DOUBLE) / (na.n + nb.n - sh) >= 0.5""".stripMargin

  /** PASSAGE retrieval end-to-end — the RAG read path: documents chunk
    * into 32-token windows ([[graft.text.TextChunk]]), the chunk corpus
    * is BM25-scored against a small term workload
    * ([[graft.text.TfIdf.bm25]]), and each query keeps its best passages.
    * Composite passage id = doc_id·1000 + chunk_idx (chunk counts are
    * ≪ 1000 by construction). Same checkpointed-score integer downstream
    * as q_bm25: rank + floor(score·1e6) over identical bits. */
  def qPassageRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextChunk, TfIdf, TextFunctions}
    val docs = table(spark, dir, "documents")
    val chunks = TextChunk.chunkByTokens(docs, "doc_id", "text",
        size = 32, overlap = 0)
      .select((col("doc_id") * 1000 + col("chunk_idx")).as("pid"),
        col("chunk_text"))
    val queries = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(TextFunctions.tokens(col("text")), 1, 2)).as("term"))
    val aux = writeOracleAux(
      TfIdf.bm25(chunks, "pid", "chunk_text", queries, "qid", "term"),
      dir, "passage_scores")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("pid").asc)
    aux.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("pid"),
        floor(col("score") * 1e6).as("score_micro"))
  }

  val qPassageRetrievalSql: String =
    s"""SELECT qid, rank, pid, score_micro FROM (
       | SELECT qid, pid,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, pid ASC) AS rank,
       |  CAST(floor(score * 1e6) AS BIGINT) AS score_micro
       | FROM ${auxSql("passage_scores")})
       |WHERE rank <= 5""".stripMargin

  /** STREAMING incremental dedup gate — the full corpus-refresh lifecycle
    * ([[graft.streaming.DedupIngest]]): batch 1 (doc_id%3==1) lands as the
    * first microbatch of a real foreachBatch Structured Streaming query,
    * batch 2 (doc_id%3==2) arrives as a SECOND file while the stream runs
    * — deduped against the key store batch 1 left behind. The stored
    * corpus is never re-read; only the 16-byte line-key relation cycles.
    * The oracle re-derives both phases in SQL (batch-1 first-occurrence
    * winners, whose distinct lines ARE the key store, then batch-2 winners
    * anti-joined against them). Stream==batch equality is additionally
    * spec-pinned in StreamingDedupSpec. */
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DedupIngest
    val base = workDir("graft_stream_dedup", dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(base)) // full lifecycle per run: fresh dirs
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    docs.where(col("doc_id") % 3 === 1)
      .repartition(2).write.parquet(s"$base/src")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING").parquet(s"$base/src")
    val q = DedupIngest.start(stream, "doc_id", "text",
      s"$base/out", s"$base/keys", s"$base/ckpt")
    try {
      q.processAllAvailable()
      // second refresh arrives while the stream runs
      docs.where(col("doc_id") % 3 === 2)
        .repartition(2).write.mode("append").parquet(s"$base/src")
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$base/out")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
  }

  val qStreamDedupSql: String =
    """WITH d1 AS (SELECT doc_id, string_split(text, chr(10)) ls
      |  FROM documents WHERE doc_id % 3 = 1),
      |l1 AS (SELECT doc_id, unnest([{'pos': i, 'line': ls[i]}
      |    for i in generate_series(1, len(ls))], recursive := true)
      |  FROM d1),
      |keep1 AS (SELECT doc_id, pos, line FROM (
      |  SELECT doc_id, pos, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) rn FROM l1)
      |  WHERE rn = 1),
      |d2 AS (SELECT doc_id, string_split(text, chr(10)) ls
      |  FROM documents WHERE doc_id % 3 = 2),
      |l2 AS (SELECT doc_id, unnest([{'pos': i, 'line': ls[i]}
      |    for i in generate_series(1, len(ls))], recursive := true)
      |  FROM d2),
      |keep2a AS (SELECT doc_id, pos, line FROM (
      |  SELECT doc_id, pos, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) rn FROM l2)
      |  WHERE rn = 1),
      |keep2 AS (SELECT k.doc_id, k.pos, k.line FROM keep2a k
      |  LEFT JOIN (SELECT DISTINCT line FROM l1) s ON k.line = s.line
      |  WHERE s.line IS NULL),
      |united AS (SELECT * FROM keep1 UNION ALL SELECT * FROM keep2)
      |SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5
      |FROM united GROUP BY doc_id""".stripMargin

  /** IMAGE near-dup gate: 160 real PNGs in 40 groups of 4 — each group
    * shares a deterministic block pattern, members differ in ONE shifted
    * block ([[graft.multimodal.ImageCodec.encodeBlocksPng]]) — are
    * dHash-fingerprinted from their ACTUAL decoded pixels
    * ([[graft.multimodal.ImageDedup.fingerprints]]), the 8-byte hash table
    * is checkpointed, and the gate ships the SQL-expressible downstream:
    * 16-bit band blocking + exact bit_count(xor) Hamming ≤ 8 — the same
    * relational stage the text SimHash gate oracles. Pixel-exactness of
    * the hash itself is pinned in ImageDedupSpec against generator
    * arithmetic. */
  def qImageNeardup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.{ImageCodec, ImageDedup}
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 160)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withPng = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val m = (id % 4).toInt
        org.apache.spark.sql.Row(id,
          ImageCodec.encodeBlocksPng(id / 4, m * 2, m * 3 % 8))
      }
    }.toDF("doc_id", "content")
    val aux = writeOracleAux(
      ImageDedup.fingerprints(withPng, "doc_id", "content"),
      dir, "image_dhash")
    graft.dedup.TextDedup.simHashPairsFromFingerprints(
      aux.where(col("sh").isNotNull), "doc_id", maxHamming = 8)
  }

  val qImageNeardupSql: String =
    s"""WITH s AS (SELECT doc_id, sh FROM ${auxSql("image_dhash")}
       |  WHERE sh IS NOT NULL),
       |bd AS (SELECT doc_id, bnd, (sh >> (bnd*16)) & 65535 AS key
       |  FROM s, (SELECT unnest(generate_series(0,3)) AS bnd)),
       |cand AS (SELECT DISTINCT a.doc_id ida, b.doc_id idb FROM bd a
       |  JOIN bd b ON a.bnd = b.bnd AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT ida, idb, hamming FROM (
       | SELECT ida, idb, bit_count(xor(sa.sh, sb.sh)) AS hamming
       | FROM cand JOIN s sa ON sa.doc_id = ida JOIN s sb ON sb.doc_id = idb)
       |WHERE hamming <= 8""".stripMargin

  /** The pHash lane of [[qImageNeardup]] — same 40×4 block-pattern PNG
    * fixture, fingerprinted with the DCT perceptual hash
    * ([[graft.multimodal.ImageCodec.pHash64]]: 32×32 luminance → 8×8
    * low-frequency DCT-II block → median threshold, the
    * brightness/rescale-robust lane next to dHash's gradient hash) from
    * real decoded pixels, then the identical checkpoint + banding +
    * exact-Hamming SQL downstream. Pixel-exactness of the DCT hash is
    * pinned in ImageDedupSpec; the gate ships the relational stage. */
  def qImageNeardupPhash(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.{ImageCodec, ImageDedup}
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 160)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withPng = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val m = (id % 4).toInt
        org.apache.spark.sql.Row(id,
          ImageCodec.encodeBlocksPng(id / 4, m * 2, m * 3 % 8))
      }
    }.toDF("doc_id", "content")
    val aux = writeOracleAux(
      ImageDedup.fingerprints(withPng, "doc_id", "content", kind = "phash"),
      dir, "image_phash")
    graft.dedup.TextDedup.simHashPairsFromFingerprints(
      aux.where(col("sh").isNotNull), "doc_id", maxHamming = 8)
  }

  val qImageNeardupPhashSql: String =
    s"""WITH s AS (SELECT doc_id, sh FROM ${auxSql("image_phash")}
       |  WHERE sh IS NOT NULL),
       |bd AS (SELECT doc_id, bnd, (sh >> (bnd*16)) & 65535 AS key
       |  FROM s, (SELECT unnest(generate_series(0,3)) AS bnd)),
       |cand AS (SELECT DISTINCT a.doc_id ida, b.doc_id idb FROM bd a
       |  JOIN bd b ON a.bnd = b.bnd AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT ida, idb, hamming FROM (
       | SELECT ida, idb, bit_count(xor(sa.sh, sb.sh)) AS hamming
       | FROM cand JOIN s sa ON sa.doc_id = ida JOIN s sb ON sb.doc_id = idb)
       |WHERE hamming <= 8""".stripMargin

  /** IMAGE dedup END-TO-END — the pixel lane's composition twin of
    * [[qVideoDedupE2e]]: the same 40×4 block-pattern PNG fixture as
    * [[qImageNeardup]], dHash-fingerprinted from real decoded pixels,
    * then banding+Hamming pairs → connected components → min-id
    * survivors. The oracle replays banding, Hamming, reachability and
    * the survivor filter over the checkpointed fingerprints. */
  def qImageDedupE2e(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.{ImageCodec, ImageDedup}
    import graft.dedup.{Components, TextDedup}
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 160)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withPng = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val m = (id % 4).toInt
        org.apache.spark.sql.Row(id,
          ImageCodec.encodeBlocksPng(id / 4, m * 2, m * 3 % 8))
      }
    }.toDF("doc_id", "content")
    val aux = writeOracleAux(
      ImageDedup.fingerprints(withPng, "doc_id", "content"),
      dir, "image_dhash_e2e")
    val fps = aux.where(col("sh").isNotNull)
    val pairs = TextDedup.simHashPairsFromFingerprints(
      fps, "doc_id", maxHamming = 8)
    Components.dedupByComponents(
        fps.select(col("doc_id")), "doc_id", pairs, "ida", "idb")
      .select(col("doc_id"))
  }

  val qImageDedupE2eSql: String =
    s"""WITH RECURSIVE s AS (SELECT doc_id, sh FROM ${auxSql("image_dhash_e2e")}
       |  WHERE sh IS NOT NULL),
       |bd AS (SELECT doc_id, bnd, (sh >> (bnd*16)) & 65535 AS key
       |  FROM s, (SELECT unnest(generate_series(0,3)) AS bnd)),
       |cand AS (SELECT DISTINCT a.doc_id ida, b.doc_id idb FROM bd a
       |  JOIN bd b ON a.bnd = b.bnd AND a.key = b.key AND a.doc_id < b.doc_id),
       |pairs AS (SELECT ida, idb FROM (
       |  SELECT ida, idb, bit_count(xor(sa.sh, sb.sh)) AS hamming
       |  FROM cand JOIN s sa ON sa.doc_id = ida JOIN s sb ON sb.doc_id = idb)
       | WHERE hamming <= 8),
       |sym AS (SELECT ida AS src, idb AS d FROM pairs
       |        UNION ALL SELECT idb, ida FROM pairs),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM s
       |  UNION
       |  SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.src = reach.id),
       |comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1)
       |SELECT doc_id FROM comp WHERE doc_id = comp""".stripMargin

  /** AUDIO near-dup gate — the WAV twin of [[qImageNeardup]]: 160 real
    * PCM16 WAVs in 40 groups of 4 (shared 65-segment envelope per group,
    * one shifted segment per member,
    * [[graft.multimodal.AudioCodec.encodeBlocksWav]]) are
    * envelope-fingerprinted from their ACTUAL decoded samples
    * ([[graft.multimodal.AudioDedup.fingerprints]]); the hash table is
    * checkpointed and the gate ships the same SQL banding + Hamming
    * downstream. Sample-exactness of the hash is pinned in
    * AudioDedupSpec against generator arithmetic. */
  def qAudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.{AudioCodec, AudioDedup}
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 160)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withWav = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val m = (id % 4).toInt
        org.apache.spark.sql.Row(id,
          AudioCodec.encodeBlocksWav(id / 4, m * 13 % 65))
      }
    }.toDF("doc_id", "content")
    val aux = writeOracleAux(
      AudioDedup.fingerprints(withWav, "doc_id", "content"),
      dir, "audio_ahash")
    graft.dedup.TextDedup.simHashPairsFromFingerprints(
      aux.where(col("sh").isNotNull), "doc_id", maxHamming = 8)
  }

  val qAudioNeardupSql: String =
    s"""WITH s AS (SELECT doc_id, sh FROM ${auxSql("audio_ahash")}
       |  WHERE sh IS NOT NULL),
       |bd AS (SELECT doc_id, bnd, (sh >> (bnd*16)) & 65535 AS key
       |  FROM s, (SELECT unnest(generate_series(0,3)) AS bnd)),
       |cand AS (SELECT DISTINCT a.doc_id ida, b.doc_id idb FROM bd a
       |  JOIN bd b ON a.bnd = b.bnd AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT ida, idb, hamming FROM (
       | SELECT ida, idb, bit_count(xor(sa.sh, sb.sh)) AS hamming
       | FROM cand JOIN s sa ON sa.doc_id = ida JOIN s sb ON sb.doc_id = idb)
       |WHERE hamming <= 8""".stripMargin

  /** AUDIO dedup END-TO-END — completes the composition triad
    * ([[qImageDedupE2e]] pixels, [[qVideoDedupE2e]] container): same
    * 40×4 envelope-hash WAV fixture as [[qAudioNeardup]], banding+Hamming
    * pairs → components → min-id survivors; oracle replays all stages
    * over the checkpointed fingerprints via a recursive CTE. */
  def qAudioDedupE2e(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.{AudioCodec, AudioDedup}
    import graft.dedup.{Components, TextDedup}
    val base = table(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 160)
    val schema = base.schema.add("content", BinaryType)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val withWav = base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val m = (id % 4).toInt
        org.apache.spark.sql.Row(id,
          AudioCodec.encodeBlocksWav(id / 4, m * 13 % 65))
      }
    }.toDF("doc_id", "content")
    val aux = writeOracleAux(
      AudioDedup.fingerprints(withWav, "doc_id", "content"),
      dir, "audio_ahash_e2e")
    val fps = aux.where(col("sh").isNotNull)
    val pairs = TextDedup.simHashPairsFromFingerprints(
      fps, "doc_id", maxHamming = 8)
    Components.dedupByComponents(
        fps.select(col("doc_id")), "doc_id", pairs, "ida", "idb")
      .select(col("doc_id"))
  }

  val qAudioDedupE2eSql: String =
    s"""WITH RECURSIVE s AS (SELECT doc_id, sh FROM ${auxSql("audio_ahash_e2e")}
       |  WHERE sh IS NOT NULL),
       |bd AS (SELECT doc_id, bnd, (sh >> (bnd*16)) & 65535 AS key
       |  FROM s, (SELECT unnest(generate_series(0,3)) AS bnd)),
       |cand AS (SELECT DISTINCT a.doc_id ida, b.doc_id idb FROM bd a
       |  JOIN bd b ON a.bnd = b.bnd AND a.key = b.key AND a.doc_id < b.doc_id),
       |pairs AS (SELECT ida, idb FROM (
       |  SELECT ida, idb, bit_count(xor(sa.sh, sb.sh)) AS hamming
       |  FROM cand JOIN s sa ON sa.doc_id = ida JOIN s sb ON sb.doc_id = idb)
       | WHERE hamming <= 8),
       |sym AS (SELECT ida AS src, idb AS d FROM pairs
       |        UNION ALL SELECT idb, ida FROM pairs),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM s
       |  UNION
       |  SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.src = reach.id),
       |comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1)
       |SELECT doc_id FROM comp WHERE doc_id = comp""".stripMargin

  /** Compression-ratio quality filter (the Gopher-class deflate signal):
    * no SQL engine re-derives deflate, so the ratio column is checkpointed
    * ([[writeOracleAux]]) and the gate ships the SQL-expressible
    * downstream — the keep/drop threshold band plus the top-20 most
    * compressible docs per band (boilerplate suspects on the drop side,
    * borderline repetition on the keep side). Doubles pass through both
    * engines bit-identically from the shared parquet; comparisons and the
    * rank order on identical bits are exact. */
  def qCompressionFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val aux = writeOracleAux(
      docs.select(col("doc_id"), compression_ratio(col("text")).as("cratio")),
      dir, "compression_ratios")
    val keep = col("cratio") >= 0.25 && col("cratio") <= 1.0
    // rank within each keep-band: the global window would be one task, the
    // per-band window is two — and the gate's contract is per-band anyway
    val w = Window.partitionBy(col("keep"))
      .orderBy(col("cratio").asc, col("doc_id").asc)
    aux.where(col("cratio").isNotNull)
      .withColumn("keep", keep)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 20)
      .select(col("doc_id"), col("cratio"), col("keep"), col("rank"))
  }

  val qCompressionFilterSql: String =
    s"""SELECT doc_id, cratio, keep, CAST(rank AS INT) AS rank FROM (
       |  SELECT doc_id, cratio,
       |    cratio >= 0.25 AND cratio <= 1.0 AS keep,
       |    row_number() OVER (
       |      PARTITION BY (cratio >= 0.25 AND cratio <= 1.0)
       |      ORDER BY cratio ASC, doc_id ASC) AS rank
       |  FROM ${auxSql("compression_ratios")} WHERE cratio IS NOT NULL)
       |WHERE rank <= 20""".stripMargin

  val qBm25Sql: String =
    s"""SELECT qid, CAST(rank AS INT) AS rank, doc_id,
       |  CAST(floor(score * 1e6) AS BIGINT) AS score_micro FROM (
       |  SELECT qid, doc_id, score, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM ${auxSql("bm25_scores")})
       |WHERE rank <= 10""".stripMargin

  /** Char-3-gram-profile language ID: profiles trained on the even-id
    * split (top-200 grams per language by frequency, deterministic
    * ordering), odd-id docs classified by distinct-gram profile overlap,
    * argmax with lexicographic tie-break — the whole model is a relation,
    * so the oracle re-derives train AND inference in SQL. */
  def qLangProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val prof = graft.text.LangProfile.train(
      docs.where(col("doc_id") % 2 === 0), "lang", "text")
    graft.text.LangProfile.classify(
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text", prof)
  }

  val qLangProfileSql: String =
    """WITH trg AS (SELECT lang,
      |    unnest([text[i : i+2] for i in generate_series(1, len(text)-2)]) AS gram
      |  FROM documents WHERE doc_id % 2 = 0),
      |cnt AS (SELECT lang, gram, count(*) AS c FROM trg GROUP BY 1, 2),
      |prof AS (SELECT lang, gram FROM (
      |    SELECT lang, gram, row_number() OVER (PARTITION BY lang
      |      ORDER BY c DESC, gram ASC) AS r FROM cnt)
      |  WHERE r <= 200),
      |teg AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id,
      |    unnest([text[i : i+2] for i in generate_series(1, len(text)-2)]) AS gram
      |  FROM documents WHERE doc_id % 2 = 1)),
      |sc AS (SELECT doc_id, lang, count(*) AS score
      |  FROM teg JOIN prof USING (gram) GROUP BY 1, 2)
      |SELECT doc_id, lang AS pred_lang, score FROM (
      |  SELECT doc_id, lang, score, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, lang ASC) AS r FROM sc)
      |WHERE r = 1""".stripMargin

  /** Top-3 TF-IDF terms per document under the deterministic integer
    * ordering (tf desc, dfreq asc, word asc — agrees with the tfidf order
    * wherever tfidf is tie-free, and is FP-free so the oracle window
    * reproduces it exactly). */
  def qTfidfTop(spark: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.topTerms(
      table(spark, dir, "documents"), "doc_id", "text", k = 3)

  val qTfidfTopSql: String =
    """WITH tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents)
      |  GROUP BY doc_id, word),
      |dfreq AS (SELECT word, count(*) AS dfreq FROM tf GROUP BY word),
      |r AS (SELECT doc_id, word, tf, dfreq,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tf DESC, dfreq ASC, word ASC) AS rank
      |  FROM tf JOIN dfreq USING (word))
      |SELECT doc_id, CAST(rank AS INT) AS rank, word, tf, dfreq
      |FROM r WHERE rank <= 3""".stripMargin

  /** Exact heavy-hitter words via the Count-Min-Sketch prefilter
    * ([[graft.text.FrequentItems.heavyHitters]]): output is EXACTLY the
    * plain groupBy-having result (CMS only overestimates → the prefilter
    * passes every true heavy hitter's rows; the exact HAVING kills
    * collision strays), so the oracle is the plain SQL aggregate — any
    * sketch bug that drops a row breaks the hash. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val words = table(spark, dir, "documents").select(
      explode(graft.text.TextFunctions.tokens(col("text"))).as("word"))
    graft.text.FrequentItems.heavyHitters(words, "word", minCount = 200L,
      eps = 1e-3)
  }

  val qHeavyHittersSql: String =
    """SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word HAVING count(*) >= 200""".stripMargin

  /** Unicode NFC normalization — deterministic combining-character fixtures
    * synthesized identically in both engines (Scala \\uXXXX literals ==
    * DuckDB chr() arithmetic): "e"+COMBINING ACUTE and "A"+COMBINING RING
    * must compose to precomposed é / Å. Output md5 + post-normalization
    * codepoint length (Spark `length` and DuckDB `len` both count
    * codepoints). DuckDB's nfc_normalize is the oracle — a true
    * cross-engine check of the normalizer, not a self-comparison. */
  def qTextNormalize(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(lit("Café doc "), col("doc_id").cast("string"),
      lit(" Å xé ffiﬃ"))
    table(spark, dir, "documents").select(col("doc_id"),
      md5(graft.functions.nfc_normalize(raw).cast("binary")).as("norm_md5"),
      length(graft.functions.nfc_normalize(raw)).cast("long").as("n_cp"))
  }

  val qTextNormalizeSql: String =
    """SELECT doc_id,
      | md5(nfc_normalize('Cafe'||chr(769)||' doc '||doc_id||' A'||chr(778)
      |   ||' x'||chr(233)||' ffi'||chr(64259))) AS norm_md5,
      | CAST(len(nfc_normalize('Cafe'||chr(769)||' doc '||doc_id||' A'
      |   ||chr(778)||' x'||chr(233)||' ffi'||chr(64259))) AS BIGINT) AS n_cp
      |FROM documents""".stripMargin

  // ---------------------------------------------------- LLM-pipeline: text

  /** Text analysis over documents: token counts, BPE estimate, stopword
    * ratio, mean word length, composite quality score. All outputs are
    * integer-valued or single-IEEE-op doubles (0.5 and 8 are powers of two),
    * so the oracle compare is bit-exact. */
  def qTextStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions._
    val d = table(spark, dir, "documents")
    d.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      bpeTokenEstimate(col("text")).as("bpe_est"),
      stopwordCount(col("text")).as("n_stop"),
      stopwordRatio(col("text")).as("stop_ratio"),
      avgWordLen(col("text")).as("avg_wlen"),
      qualityScore(col("text")).as("quality"))
  }

  // lazy: referenced by oracle-SQL vals declared ABOVE this line — a plain
  // val would interpolate as "null" during object initialization (exactly
  // what silently zeroed q_pipeline_e2e's stop-ratio stage in review)
  private lazy val stopList = graft.text.TextFunctions.Stopwords
    .map(w => s"'$w'").mkString(", ")

  val qTextStatsSql: String =
    s"""SELECT doc_id,
       | len(string_split(text,' ')) AS n_tokens,
       | CAST(ceil(len(text)/4.0) AS BIGINT) AS bpe_est,
       | len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS n_stop,
       | CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |   / len(string_split(text,' ')) AS stop_ratio,
       | CAST(len(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |   / len(string_split(text,' ')) AS avg_wlen,
       | 0.5 * (CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |   / len(string_split(text,' ')))
       | + 0.5 * least((CAST(len(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |   / len(string_split(text,' '))) / 8.0, 1.0) AS quality
       |FROM documents""".stripMargin

  /** Language-ID heuristic (stopword-ratio threshold). */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions._
    table(spark, dir, "documents")
      .select(col("doc_id"), langId(col("text")).as("lang_pred"))
  }

  val qLangIdSql: String =
    s"""SELECT doc_id,
       | CASE WHEN CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |   / len(string_split(text,' ')) >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred
       |FROM documents""".stripMargin

  /** Document fingerprinting (md5 — identical hex in Spark and DuckDB). */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), graft.text.TextFunctions.fingerprintMd5(col("text")).as("fp"))

  val qFingerprintSql: String =
    "SELECT doc_id, md5(text) AS fp FROM documents"

  /** Repetition filters (the Gopher/C4 quality class): duplicate-line
    * fraction + most-frequent-word fraction per document. The corpus is
    * single-line synthetic text, so a multi-line view is derived with
    * IDENTICAL expressions on both engines (split on a frequent word,
    * plus a deterministic duplicated marker on every third doc) — the
    * gate verifies the repetition arithmetic over varied line shapes.
    * Counts are ints, fractions single divisions: FP-exact. The top-word
    * count uses explode + two-level aggregation (the 100 TB form — no
    * per-row quadratic higher-order scan). */
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions._
    // plain substring replace (NOT regex) to match DuckDB's replace():
    // identical left-to-right non-overlapping semantics in both engines
    val lt = concat(
      replace(col("text"), lit(" value "), lit("\n")),
      when(col("doc_id") % 3 === 0, lit("\ndup\ndup")).otherwise(lit("")))
    val d = table(spark, dir, "documents").select(col("doc_id"), col("text"),
      lt.as("__lt"))
    val base = d.select(col("doc_id"),
      lineCount(col("__lt")).as("n_lines"),
      dupLineCount(col("__lt")).as("n_dup_lines"),
      dupLineFrac(col("__lt")).as("dup_line_frac"),
      tokenCount(col("text")).as("n_words"))
    val top = d.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_word_n"))
    base.join(top, Seq("doc_id"))
      .withColumn("top_word_frac",
        col("top_word_n").cast("double") / col("n_words").cast("double"))
  }

  val qRepetitionSql: String =
    """WITH d AS (SELECT doc_id, text,
      |  concat(replace(text, ' value ', chr(10)),
      |    CASE WHEN doc_id % 3 = 0 THEN chr(10)||'dup'||chr(10)||'dup' ELSE '' END) AS lt
      |  FROM documents)
      |SELECT doc_id,
      | len(string_split(lt, chr(10))) AS n_lines,
      | len(string_split(lt, chr(10))) - len(list_distinct(string_split(lt, chr(10)))) AS n_dup_lines,
      | CAST(len(string_split(lt, chr(10))) - len(list_distinct(string_split(lt, chr(10)))) AS DOUBLE)
      |   / len(string_split(lt, chr(10))) AS dup_line_frac,
      | len(string_split(text, ' ')) AS n_words,
      | list_max(list_transform(list_distinct(string_split(text, ' ')),
      |     w -> len(list_filter(string_split(text, ' '), x -> x = w)))) AS top_word_n,
      | CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
      |     w -> len(list_filter(string_split(text, ' '), x -> x = w)))) AS DOUBLE)
      |   / len(string_split(text, ' ')) AS top_word_frac
      |FROM d""".stripMargin

  /** PII redaction: emails, IPv4 literals and NNN-NNN-NNNN phone numbers
    * replaced by typed placeholders, plus the span count. The synthetic
    * corpus has no natural PII, so each doc gets a deterministic
    * doc_id-derived contact block appended with IDENTICAL expressions on
    * both engines — the gate verifies the regex rewrite and counting on
    * every row. Patterns are alternation-free so Java regex (Spark) and
    * RE2 (DuckDB) agree on every match; output is the placeholder-typed
    * text's md5, so any span divergence fails the hash. */
  def qRedact(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions._
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail.example.com or 10.0."),
      col("doc_id") % 256, lit(".7 call 555-123-4567 ext "), col("doc_id") % 100)
    table(spark, dir, "documents").select(
      col("doc_id"),
      piiCount(withPii).as("n_pii"),
      md5(redactPii(withPii).cast("binary")).as("redacted_md5"))
  }

  val qRedactSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    s"""WITH d AS (SELECT doc_id,
       |  concat(text, ' contact user', doc_id, '@mail.example.com or 10.0.',
       |    doc_id % 256, '.7 call 555-123-4567 ext ', doc_id % 100) AS t
       |  FROM documents),
       |e AS (SELECT doc_id, t, regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1 FROM d),
       |i AS (SELECT doc_id, t, t1, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM e)
       |SELECT doc_id,
       | len(regexp_extract_all(t, '$email')) +
       | len(regexp_extract_all(t1, '$ip')) +
       | len(regexp_extract_all(t2, '$phone')) AS n_pii,
       | md5(regexp_replace(t2, '$phone', '<PHONE>', 'g')) AS redacted_md5
       |FROM i""".stripMargin
  }

  /** Concat-then-chunk sequence packing (the GPT-style pre-training
    * layout): documents concatenated in doc_id order, cut into 512-token
    * chunks; each doc reports its token offset and spanned chunk range.
    * The Spark side is the distributed two-pass prefix sum
    * ([[graft.text.SequencePack]] — range partition + per-partition
    * window + broadcast offsets; a global-order window would plan as ONE
    * task); the oracle is the plain SQL running total. All int64 exact. */
  def qSeqPack(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions._
    val d = table(spark, dir, "documents").select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.text.SequencePack.packChunks(d, "doc_id", "n_tokens", 512L)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        col("first_chunk"), col("last_chunk"), col("n_chunks"))
  }

  val qSeqPackSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS cum FROM t)
      |SELECT doc_id, n_tokens, cum - n_tokens AS start_tok,
      | CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS first_chunk,
      | CAST(floor(greatest(cum - 1, cum - n_tokens) / 512.0) AS BIGINT) AS last_chunk,
      | CAST(floor(greatest(cum - 1, cum - n_tokens) / 512.0) AS BIGINT)
      |   - CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) + 1 AS n_chunks
      |FROM c""".stripMargin

  /** Benchmark decontamination: flag training documents sharing any word
    * 3-gram with a benchmark set (here every 50th doc — the eval-set
    * stand-in). The shingle relation is checkpointed ([[writeOracleAux]])
    * so the oracle runs the identical join/count in SQL over the same
    * bits. 100 TB shape: the benchmark side is eval-set-sized, so its
    * distinct shingles BROADCAST and the training side never shuffles —
    * one scan + broadcast semi-join + per-doc count. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions
    // shingles hashed to 64-bit keys before the checkpoint: the aux file
    // ships 16-byte rows instead of n-word strings (the write is the
    // gate's dominant cost), and hash-equality joins are shingle-equality
    // joins at ~1e-12 collision odds
    val sh = table(spark, dir, "documents").select(col("doc_id"),
      explode(TextFunctions.wordShingles(col("text"), 3)).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    val aux = writeOracleAux(sh, dir, "contam_shingles")
    val bench = aux.where(col("doc_id") % 50 === 0).select(col("s")).distinct()
    val train = aux.where(col("doc_id") % 50 =!= 0)
    val hits = train.join(broadcast(bench), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_hits"))
    table(spark, dir, "documents").where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
  }

  val qDecontaminateSql: String =
    s"""WITH sh AS (SELECT doc_id, s FROM ${auxSql("contam_shingles")}),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
       |hits AS (SELECT sh.doc_id, count(DISTINCT sh.s) AS n
       |         FROM sh JOIN bench USING (s) WHERE sh.doc_id % 50 != 0 GROUP BY 1)
       |SELECT d.doc_id, coalesce(hits.n, 0) AS n_hits,
       | CAST(coalesce(hits.n, 0) > 0 AS INT) AS contaminated
       |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
       |WHERE d.doc_id % 50 != 0""".stripMargin

  /** q_decontaminate through the SQL TABLE-function surface
    * ([[graft.functions.TableFunctions.decontaminate]] → [[graft.text
    * .Decontaminate.flag]]): same split, same broadcast semi-join shape,
    * invoked from one `spark.sql` TVF call. The gate writes an
    * INDEPENDENT shingle checkpoint for the oracle (the same xxhash64
    * bits the TVF computes internally), so like q_minhash_lsh_sql it pays
    * the shingle stage twice by design — see BASELINE.md round-15 notes
    * before reading its wall against the API twin's. */
  def qDecontaminateSqlGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions
    graft.functions.TableFunctions.registerAll(spark)
    val docs = table(spark, dir, "documents")
    writeOracleAux(docs.select(col("doc_id"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s")),
      dir, "contam_shingles_sql")
    docs.where(col("doc_id") % 50 =!= 0)
      .createOrReplaceTempView("gate_decon_train")
    docs.where(col("doc_id") % 50 === 0)
      .createOrReplaceTempView("gate_decon_bench")
    spark.sql("SELECT * FROM decontaminate('gate_decon_train', 'doc_id'," +
      " 'text', 'gate_decon_bench', 'text', 3)")
  }

  val qDecontaminateSqlGateSql: String =
    qDecontaminateSql.replace("contam_shingles", "contam_shingles_sql")

  /** Train-vs-eval overlap AUDIT ([[graft.text.CorpusOverlap]] — the
    * report beside q_decontaminate's filter): per-training-doc distinct
    * 3-gram coverage by the eval corpus plus the most-overlapping eval doc
    * (max shared, min bid — deterministic). Same checkpointed
    * shingle-hash relation as the decontaminate gates (hash-equality ==
    * shingle-equality at ~1e-12 odds); the oracle replays the whole
    * report relationally — all outputs are exact integers or floors of a
    * single exact-integer division. 100 TB shape: the eval side
    * broadcasts, the training side never shuffles (only hit rows reach
    * the aggregates). */
  def qCorpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions
    val sh = table(spark, dir, "documents").select(col("doc_id"),
      explode(TextFunctions.wordShingles(col("text"), 3)).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    val aux = writeOracleAux(sh, dir, "overlap_shingles")
    val bench = aux.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bid"), col("s"))
    val train = aux.where(col("doc_id") % 50 =!= 0)
    // top_bid is null when nothing overlaps; the gate ships -1 instead
    // (a nullable BIGINT turns float64 through the checker's pandas lane)
    graft.text.CorpusOverlap.report(train, "doc_id", bench, "bid", "s",
        minShared = 2)
      .withColumn("top_bid", coalesce(col("top_bid"), lit(-1L)))
  }

  val qCorpusOverlapSql: String =
    s"""WITH sh AS (SELECT doc_id, s FROM ${auxSql("overlap_shingles")}),
       |a AS (SELECT doc_id AS aid, s FROM sh WHERE doc_id % 50 != 0),
       |b AS (SELECT doc_id AS bid, s FROM sh WHERE doc_id % 50 = 0),
       |na AS (SELECT aid, CAST(count(*) AS BIGINT) AS na FROM a GROUP BY 1),
       |hits AS (SELECT a.aid, a.s, b.bid FROM a JOIN b USING (s)),
       |pd AS (SELECT aid, CAST(count(DISTINCT s) AS BIGINT) AS n_hit_keys
       |       FROM hits GROUP BY 1),
       |tp AS (SELECT aid, bid AS top_bid, shared FROM (
       |  SELECT aid, bid, CAST(count(*) AS BIGINT) AS shared,
       |    row_number() OVER (PARTITION BY aid
       |      ORDER BY count(*) DESC, bid ASC) AS rk
       |  FROM hits GROUP BY aid, bid HAVING count(*) >= 2) WHERE rk = 1)
       |SELECT na.aid AS doc_id, na.na,
       |  coalesce(pd.n_hit_keys, 0) AS n_hit_keys,
       |  CAST(floor(coalesce(pd.n_hit_keys, 0) * 1000000 / na.na) AS BIGINT)
       |    AS hit_micro,
       |  coalesce(tp.top_bid, -1) AS top_bid,
       |  coalesce(tp.shared, 0) AS top_shared,
       |  CAST(floor(coalesce(tp.shared, 0) * 1000000 / na.na) AS BIGINT)
       |    AS top_micro
       |FROM na LEFT JOIN pd ON na.aid = pd.aid
       |LEFT JOIN tp ON na.aid = tp.aid""".stripMargin

  /** Bloom-prefiltered decontamination — the NEXT scale regime after
    * q_decontaminate's broadcast semi-join: when the benchmark shingle set
    * is too large to broadcast as a hash relation, a Bloom filter keeps the
    * training side scan-only and only candidate rows (true hits + the fpp
    * sliver) pay join cost. Output is EXACT (the verification join kills
    * false positives; Bloom filters have no false negatives), so the oracle
    * is the plain hits SQL over the checkpointed shingles — identical
    * result whatever the filter's fp behavior. */
  def qDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions
    val sh = table(spark, dir, "documents").select(col("doc_id"),
      explode(TextFunctions.wordShingles(col("text"), 3)).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    val aux = writeOracleAux(sh, dir, "contam_shingles_bloom")
    val bench = aux.where(col("doc_id") % 50 === 0).select(col("s")).distinct()
    val train = aux.where(col("doc_id") % 50 =!= 0)
    graft.text.Decontaminate.flagBloom(train, "doc_id", "s", bench, fpp = 0.03)
  }

  val qDecontaminateBloomSql: String =
    s"""WITH sh AS (SELECT doc_id, s FROM ${auxSql("contam_shingles_bloom")}),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
       |SELECT sh.doc_id, count(DISTINCT sh.s) AS n_hits
       |FROM sh JOIN bench USING (s) WHERE sh.doc_id % 50 != 0 GROUP BY 1""".stripMargin

  /** Deterministic train/valid/test split + reproducible shuffle key
    * ([[graft.text.CorpusSplit]]): pure integer key-hash arithmetic, so a
    * document keeps its split across reruns/repartitions/epochs and the
    * oracle replays it exactly. The shuffle key (salt=7, a different draw
    * than the split hash) is the sort key a writer range-partitions on —
    * assignment itself is a scan-local projection, zero shuffle. */
  def qCorpusSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.CorpusSplit
    val splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)
    CorpusSplit.withShuffleKey(
      CorpusSplit.assignSplits(
        table(spark, dir, "documents"), "doc_id", splits),
      "doc_id", salt = 7)
      .select(col("doc_id"), col("split"), col("shuffle_key"))
  }

  val qCorpusSplitSql: String = {
    val splitCase = graft.text.CorpusSplit.assignSplitsSql(
      "doc_id", Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
    s"""SELECT doc_id, $splitCase AS split,
       | ((doc_id + 7) * 2654435761) % 4294967296 AS shuffle_key
       |FROM documents""".stripMargin
  }

  /** Host-level curation ([[graft.text.HostCurate]]): blocklist drop +
    * per-host document cap (k=8) in deterministic key-hash order — the
    * RefinedWeb-style control that stops a single host from flooding the
    * mix. The engine runs the two-stage skew-safe top-k (stage-2 windows
    * bounded by k·salts rows per host regardless of host skew); the oracle
    * is the semantically-identical single-window SQL. */
  def qHostCap(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.HostCurate
    val kept = HostCurate.dropHosts(
      table(spark, dir, "documents"), "source", Seq("src4", "src13"))
    HostCurate.capPerHost(kept, "source", "doc_id", k = 8)
      .select(col("doc_id"), col("source"), col("host_rank"))
  }

  val qHostCapSql: String =
    """SELECT doc_id, source, host_rank FROM (
      | SELECT doc_id, source,
      |  row_number() OVER (PARTITION BY source
      |    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS host_rank
      | FROM documents WHERE source NOT IN ('src4', 'src13'))
      |WHERE host_rank <= 8""".stripMargin

  /** HTML → text extraction ([[graft.functions.StripHtml]]): documents are
    * wrapped into deterministic HTML (title/style/script/markup/entities —
    * every kernel rule exercised), the engine strips with the one-pass
    * codegen kernel, and the oracle replays the pinned regex/replace-chain
    * semantics ([[graft.functions.HtmlStrip.sql]]) over the same wrap. Full
    * stripped text ships through the comparer — every byte is gated. */
  def qHtmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style type=\"text/css\">p { color: red; }</style></head>" +
        "<body><script type=\"text/javascript\">var x = 1 < 2;</script><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1>\n<p class=\"main\">"), col("text"),
      lit(" &amp; more &lt;markup&gt; &quot;q&quot; &apos;x&#39; a&nbsp;b " +
        "&foo; end</p><br/><div>tail</div></body></html>"))
    table(spark, dir, "documents")
      .select(col("doc_id"), strip_html(html).as("stripped"))
  }

  val qHtmlStripSql: String = {
    val wrap = "'<html><head><title>Doc ' || doc_id || " +
      "'</title><style type=\"text/css\">p { color: red; }</style></head>" +
      "<body><script type=\"text/javascript\">var x = 1 < 2;</script><h1>Doc ' " +
      "|| doc_id || '</h1>' || chr(10) || '<p class=\"main\">' || text || " +
      "' &amp; more &lt;markup&gt; &quot;q&quot; &apos;x&#39; a&nbsp;b " +
      "&foo; end</p><br/><div>tail</div></body></html>'"
    s"SELECT doc_id, ${graft.functions.HtmlStrip.sql(s"($wrap)")} AS stripped FROM documents"
  }

  /** Stratified mixture sampling — per-source keep rates (the data-mixing
    * step of a pre-training pipeline), deterministic via the same
    * Knuth-multiplicative key hash as q_sample so task retries and the
    * cross-engine oracle see identical selections. Stratum = doc_id % 4
    * (the source stand-in) with keep rates 1, 1/2, 1/4, 1/8. */
  def qMixSample(spark: SparkSession, dir: String): DataFrame = {
    val stratum = col("doc_id") % 4
    val threshold = when(stratum === 0, lit(4294967296L))
      .when(stratum === 1, lit(2147483648L))
      .when(stratum === 2, lit(1073741824L))
      .otherwise(lit(536870912L))
    table(spark, dir, "documents")
      .where(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) < threshold)
      .select(col("doc_id"), stratum.as("stratum"))
  }

  val qMixSampleSql: String =
    """SELECT doc_id, doc_id % 4 AS stratum FROM documents
      |WHERE (doc_id * 2654435761) % 4294967296 <
      |  CASE doc_id % 4 WHEN 0 THEN 4294967296 WHEN 1 THEN 2147483648
      |    WHEN 2 THEN 1073741824 ELSE 536870912 END""".stripMargin

  /** Gopher-class rule-based quality filter ([[graft.text.QualityFilter]]):
    * word-count bounds, mean-word-length bounds, stopword-ratio floor, each
    * as a 0/1 rule column plus the conjunction. Thresholds sized so every
    * rule genuinely splits this corpus (word counts 10-99, p10/p90 of
    * avg_wlen at 4.26/4.77, p10 of stop_ratio at 0.015). One codegen'd
    * scan, no shuffle — the 100 TB form is a fused mapper. */
  def qQualityFilter(spark: SparkSession, dir: String): DataFrame =
    graft.text.QualityFilter.annotate(
      table(spark, dir, "documents"), "text")
      .select(col("doc_id"), col("n_words"), col("avg_wlen"),
        col("stop_ratio"), col("pass_len"), col("pass_wlen"),
        col("pass_stop"), col("keep"))

  val qQualityFilterSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  len(string_split(text,' ')) AS n_words,
       |  CAST(len(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |    / len(string_split(text,' ')) AS avg_wlen,
       |  CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |    / len(string_split(text,' ')) AS stop_ratio
       | FROM documents)
       |SELECT doc_id, n_words, avg_wlen, stop_ratio,
       | CAST(n_words BETWEEN 25 AND 80 AS INT) AS pass_len,
       | CAST(avg_wlen >= 4.3 AND avg_wlen <= 4.7 AS INT) AS pass_wlen,
       | CAST(stop_ratio >= 0.02 AS INT) AS pass_stop,
       | CAST(n_words BETWEEN 25 AND 80 AND avg_wlen >= 4.3 AND avg_wlen <= 4.7
       |   AND stop_ratio >= 0.02 AS INT) AS keep
       |FROM t""".stripMargin

  /** Training-shard assembly ([[graft.text.ShardBuild]]): documents packed
    * into (source, doc_id%3) shards (3 is coprime with the generator's
    * source = doc_id%20, so the slot genuinely subdivides every source —
    * %4 would be constant within one), concatenated in ascending doc_id
    * order,
    * md5-fingerprinted. The md5 column makes byte-determinism of the shard
    * CONTENT the oracled contract — a retry-unstable concat order fails the
    * hash. One hash shuffle on the shard key; the per-shard collect is the
    * shard itself (a unit that must fit one writer task by construction). */
  def qDocConcat(spark: SparkSession, dir: String): DataFrame =
    graft.text.ShardBuild.buildShards(
      table(spark, dir, "documents"),
      groupCols = Seq("source"), idCol = "doc_id", textCol = "text", slots = 3)

  /** Secondary ORDER BY text matches the engine's struct-sort tie-break
    * for (hypothetical) duplicate ids; % == pmod for the corpus's
    * non-negative ids (precondition documented in ShardBuild). */
  val qDocConcatSql: String =
    """SELECT source, doc_id % 3 AS slot, count(*) AS n_docs,
      | CAST(sum(len(text)) AS BIGINT) AS sum_chars,
      | md5(string_agg(text, chr(10) ORDER BY doc_id, text)) AS shard_md5
      |FROM documents GROUP BY 1, 2""".stripMargin

  /** Shard FILE sink gate: [[graft.text.ShardBuild.writeShards]] writes
    * one text file per shard, then the gate reads the RAW BYTES back
    * (binaryFile source, partition dirs recovered as columns), strips the
    * text sink's single trailing newline, and hashes — emitted next to the
    * summary-side shard_md5 from buildShards, so the gate hash-checks
    * file-bytes == computed-contract == oracle re-derivation in one row. */
  def qShardFiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.ShardBuild
    val path = workDir("graft_shards", dir)
    val docs = table(spark, dir, "documents")
    ShardBuild.writeShards(docs, Seq("source"), "doc_id", "text", 3, path)
    val files = spark.read.format("binaryFile").load(path)
      .select(col("source"), col("slot").cast("long").as("slot"),
        md5(expr("substring(content, 1, length(content)-1)")).as("file_md5"))
    val summary = ShardBuild.buildShards(docs, Seq("source"), "doc_id", "text", 3)
      .select(col("source"), col("slot"), col("n_docs"), col("shard_md5"))
    files.join(summary, Seq("source", "slot"))
      .select(col("source"), col("slot"), col("n_docs"),
        col("file_md5"), col("shard_md5"))
  }

  val qShardFilesSql: String =
    """SELECT source, doc_id % 3 AS slot, count(*) AS n_docs,
      | md5(string_agg(text, chr(10) ORDER BY doc_id, text)) AS file_md5,
      | md5(string_agg(text, chr(10) ORDER BY doc_id, text)) AS shard_md5
      |FROM documents GROUP BY 1, 2""".stripMargin

  /** BPE merge-candidate mining: adjacent word-pair frequencies across the
    * corpus, top 20 by count (pair text as the deterministic tiebreak) —
    * the pair-selection step of a BPE vocabulary build, one merge round at
    * word granularity. explode + groupBy + bounded top-k: partial
    * aggregation map-side, a 20-row driver result; never a per-document
    * quadratic scan. */
  def qBpeMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions._
    table(spark, dir, "documents")
      .select(explode(wordShinglesAll(col("text"), 2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(20)
  }

  val qBpeMergeSql: String =
    """WITH w AS (SELECT string_split(text,' ') AS ws FROM documents),
      |p AS (SELECT unnest([array_to_string(ws[i:i+1],' ')
      |    for i in generate_series(1, len(ws)-1)]) AS pair
      |  FROM w WHERE len(ws) >= 2)
      |SELECT pair, count(*) AS n FROM p GROUP BY 1
      |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin

  /** BPE vocabulary training, FULL loop ([[graft.text.BpeTrainer.train]]):
    * 8 merge rounds over the corpus's distinct-pretoken frequency table —
    * each round one weighted adjacent-pair count, the deterministic winner
    * (count desc, pair asc), and the left-to-right non-overlapping
    * fold-merge applied to every word. The oracle UNROLLS all 8 rounds as
    * chained CTEs (the q_unigram iterative-replay treatment): words ride
    * as boundary-wrapped symbol strings (chr(1)||sym||chr(1) per symbol,
    * the q_bpe_encode encoding), where SQL `replace` of the full-wrapper
    * pattern IS the fold (replace scans left-to-right, non-overlapping —
    * exactly [[graft.text.BpeTrainer.mergeSyms]]'s contract; the wrappers
    * anchor each symbol so a multi-char symbol merely ENDING in `a` or
    * STARTING with `b` can never fuse — see qBpeTrainSql's comment).
    * Safe because corpus text carries no chr(1) and no non-BMP codepoints
    * (UTF-16 char split == UTF-8 char split). Output = the learned merge
    * table (rank, pair, weighted count) — round r+1's counts depend on
    * round r's fold, so the whole loop is load-bearing, subsuming the
    * single-round q_bpe_merge. */
  def qBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
    graft.text.BpeTrainer.train(docs, "text", numMerges = 8)
      .map(m => (m.rank.toLong, m.left, m.right, m.count))
      .toDF("rk", "a", "b", "n")
  }

  val qBpeTrainSql: String = {
    val pat = graft.text.TextFunctions.BpePretokenPattern.replace("'", "''")
    val rounds = 8
    // Symbol encoding: every symbol rides with its OWN boundaries,
    // chr(1)||sym||chr(1), adjacent symbols giving a chr(1)chr(1) seam
    // (the q_bpe_encode oracle's encoding). The merge fold is then
    // replace(w, \x01 a \x01\x01 b \x01, \x01 ab \x01): a match must
    // consume BOTH full wrappers, so a multi-char symbol ending in `a`
    // (or starting with `b`) can never fuse across its own boundary —
    // the flat single-separator encoding's suffix/prefix-collision bug
    // (symbols [th, e] + winning pair (h,e) fused 'th\x01e' -> 'the').
    // Overlapping runs stay exact: for a=b, 'aaaaa' = 5 wrapped symbols,
    // the left-to-right non-overlapping replace merges (0,1) then (2,3)
    // and leaves the 5th — precisely BpeTrainer.mergeSyms' fold.
    // BpeOracleFoldSpec pins this replace==mergeSyms equivalence on the
    // adversarial cases (suffix collision, prefix collision, a=b runs).
    val body = (0 until rounds).map { r =>
      s"""p$r AS (
         | SELECT pr.a, pr.b, CAST(sum(pr.n) AS BIGINT) AS c FROM (
         |  SELECT n, unnest([{'a': s[i], 'b': s[i+1]}
         |      for i in generate_series(1, len(s)-1)], recursive := true)
         |  FROM (SELECT string_split(w[2 : len(w)-1], chr(1)||chr(1)) AS s, n
         |        FROM w$r)) pr
         | GROUP BY 1, 2 HAVING sum(pr.n) >= 2),
         |m$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         |w${r + 1} AS (SELECT
         |   replace(w, chr(1)||m.a||chr(1)||chr(1)||m.b||chr(1),
         |     chr(1)||m.a||m.b||chr(1)) AS w, n
         | FROM w$r, m$r m)""".stripMargin
    }.mkString(",\n")
    val out = (0 until rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rk, a, b, c AS n FROM m$r")
      .mkString("\nUNION ALL ")
    s"""WITH w0 AS (
       | SELECT chr(1) ||
       |   array_to_string([w[i] for i in generate_series(1, len(w))],
       |     chr(1)||chr(1)) || chr(1) AS w,
       |   CAST(count(*) AS BIGINT) AS n
       | FROM (SELECT unnest(regexp_extract_all(text, '$pat', 1)) AS w FROM documents)
       | GROUP BY 1),
       |$body
       |$out""".stripMargin
  }

  /** WordPiece vocabulary training, FULL loop
    * ([[graft.text.WordPieceTrainer.train]]): 8 rounds over the
    * distinct-pretoken frequency table, each selecting the adjacent pair
    * maximizing the unigram-likelihood score cp/(ca·cb) — BPE's loop with
    * BERT's scoring — then fold-merging it into every word (`##`
    * continuation convention; merged symbol strips b's marker). Output =
    * (rank, pair, pair count, endpoint counts), all exact integers.
    * The oracle unrolls all 8 rounds as chained CTEs with the q_bpe_train
    * wrapped-symbol fold; selection replays EXACTLY in integers via
    * HUGEINT floor-scaled scores — see qWordpieceTrainSql. */
  def qWordpieceTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
    graft.text.WordPieceTrainer.train(docs, "text", numMerges = 8)
      .map(m => (m.rank.toLong, m.left, m.right,
        m.pairCount, m.leftCount, m.rightCount))
      .toDF("rk", "a", "b", "cp", "ca", "cb")
  }

  val qWordpieceTrainSql: String = {
    val pat = graft.text.TextFunctions.BpePretokenPattern.replace("'", "''")
    val rounds = 8
    // Winner selection in EXACT integers: score(a,b) = cp/(ca*cb) is
    // ordered by floor(cp * M // (ca*cb)) with M = 2^100 (HUGEINT). For
    // two distinct rationals c1/d1 > c2/d2 (positive ints), c1*d2 - c2*d1
    // >= 1, so c1*M/d1 - c2*M/d2 = M*(c1*d2 - c2*d1)/(d1*d2) >= M/(d1*d2)
    // >= 1 whenever M >= d1*d2 — and x >= y+1 implies floor(x) >=
    // floor(y)+1, so the floor strictly preserves the order. Here d =
    // ca*cb < 2^50 comfortably (total weighted symbol occurrences at the
    // oracle SF are < 2^25), so M = 2^100 >= d1*d2 and cp*M < 2^125 fits
    // HUGEINT. Equal scores floor equal -> the (a, b) ASC tie-break, the
    // trainer's own. The Spark side picks the same winner by driver-side
    // cross-multiplied BigInt rationals.
    // Every CTE is MATERIALIZED: w$r is referenced three times per round
    // (s$r, p$r, w${r+1}), and DuckDB inlines plain CTEs — 3^rounds
    // re-scans of `documents` (observed: fd exhaustion at 8 rounds).
    val M = "CAST('1267650600228229401496703205376' AS HUGEINT)" // 2^100
    val body = (0 until rounds).map { r =>
      s"""s$r AS MATERIALIZED (SELECT sym, CAST(sum(n) AS BIGINT) AS c FROM (
         |  SELECT unnest(string_split(w[2 : len(w)-1], chr(1)||chr(1))) AS sym, n
         |  FROM w$r) GROUP BY 1),
         |p$r AS MATERIALIZED (
         | SELECT pr.a, pr.b, CAST(sum(pr.n) AS BIGINT) AS c FROM (
         |  SELECT n, unnest([{'a': s[i], 'b': s[i+1]}
         |      for i in generate_series(1, len(s)-1)], recursive := true)
         |  FROM (SELECT string_split(w[2 : len(w)-1], chr(1)||chr(1)) AS s, n
         |        FROM w$r)) pr
         | GROUP BY 1, 2 HAVING sum(pr.n) >= 2),
         |m$r AS MATERIALIZED (SELECT p.a, p.b, p.c, sa.c AS ca, sb.c AS cb
         | FROM p$r p JOIN s$r sa ON sa.sym = p.a JOIN s$r sb ON sb.sym = p.b
         | ORDER BY (CAST(p.c AS HUGEINT) * $M)
         |     // (CAST(sa.c AS HUGEINT) * CAST(sb.c AS HUGEINT)) DESC,
         |   p.a ASC, p.b ASC
         | LIMIT 1),
         |w${r + 1} AS MATERIALIZED (SELECT
         |   replace(w, chr(1)||m.a||chr(1)||chr(1)||m.b||chr(1),
         |     chr(1)||m.a||(CASE WHEN m.b LIKE '##%' THEN m.b[3 : len(m.b)] ELSE m.b END)||chr(1)) AS w, n
         | FROM w$r, m$r m)""".stripMargin
    }.mkString(",\n")
    val out = (0 until rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rk, a, b, c AS cp, ca, cb FROM m$r")
      .mkString("\nUNION ALL ")
    s"""WITH w0 AS MATERIALIZED (
       | SELECT chr(1) || array_to_string(
       |     [CASE WHEN i = 1 THEN cs[i] ELSE '##' || cs[i] END
       |      for i in generate_series(1, len(cs))],
       |     chr(1)||chr(1)) || chr(1) AS w,
       |   CAST(count(*) AS BIGINT) AS n
       | FROM (SELECT string_split(wd, '') AS cs FROM
       |   (SELECT unnest(regexp_extract_all(text, '$pat', 1)) AS wd
       |    FROM documents))
       | GROUP BY 1),
       |$body
       |$out""".stripMargin
  }

  /** Exact word-3-gram Jaccard near-duplicate pairs (threshold 0.5). */
  def qDedupNgram(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.TextDedup.ngramJaccardPairs(
      table(spark, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.5)

  val qDedupNgramSql: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |  [array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)])) AS shingle
      |  FROM w WHERE len(ws) >= 3),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |shared AS (SELECT a.doc_id ida, b.doc_id idb, count(*) s FROM sh a
      |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2)
      |SELECT ida, idb, jaccard FROM (
      | SELECT ida, idb, CAST(s AS DOUBLE)/(ca.n + cb.n - s) AS jaccard
      | FROM shared JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb)
      |WHERE jaccard >= 0.5""".stripMargin

  /** Near-CONTAINMENT mining ([[graft.dedup.TextDedup.ngramContainmentPairs]]):
    * the corpus is documents 0-299 plus a half-length EXCERPT of each
    * (id+10000, first ⌊tokens/2⌋ words) — the excerpt's shingle set is a
    * subset of its source's, so containment hits 1.0 where Jaccard sits
    * near 0.5 and the pair would slip a Jaccard threshold. Both engines
    * build the derived corpus from the same token arithmetic; containment
    * = one division of exact ints (FP-exact). */
  def qTextContainment(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents")
      .where(col("doc_id") < 300).select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val excerpts = base.select((col("doc_id") + 10000L).as("doc_id"),
      // floor() both here and in the SQL twin: DuckDB's double->int CAST
      // rounds where Spark's truncates — floor first makes them agree
      array_join(slice(toks, lit(1),
        greatest(lit(1), floor(size(toks) / 2).cast("int"))), " ").as("text"))
    graft.dedup.TextDedup.ngramContainmentPairs(
      base.unionByName(excerpts), "doc_id", "text", n = 3, threshold = 0.9)
  }

  val qTextContainmentSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
      |exc AS (SELECT doc_id + 10000 AS doc_id,
      |  array_to_string(ws[1:greatest(1, CAST(floor(len(ws)/2) AS INT))], ' ') AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') ws FROM base)),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
      |w AS (SELECT doc_id, string_split(text, ' ') ws FROM corpus),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |  [array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)])) AS shingle
      |  FROM w WHERE len(ws) >= 3),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |shared AS (SELECT a.doc_id ida, b.doc_id idb, count(*) s FROM sh a
      |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2)
      |SELECT ida, idb, containment FROM (
      | SELECT ida, idb, CAST(s AS DOUBLE)/least(ca.n, cb.n) AS containment
      | FROM shared JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb)
      |WHERE containment >= 0.9""".stripMargin

  /** Per-source corpus datasheet ([[graft.text.CorpusReport]]): doc/char/
    * token volume, quality-pass count, exact-dup count — one row per
    * source, all exact integers. The oracle replays the aggregate plus
    * the dup-winner window in SQL. */
  def qCorpusReport(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusReport.perSource(
      table(spark, dir, "documents"), "source", "doc_id", "text")

  val qCorpusReportSql: String =
    s"""WITH a AS (SELECT source, doc_id, text,
       |  len(string_split(text, ' ')) AS nw,
       |  CAST(len(string_split(text, ' ')) BETWEEN 25 AND 80 AS INT) AS p_len,
       |  CAST((CAST(len(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |    / len(string_split(text, ' '))) BETWEEN 4.3 AND 4.7 AS INT) AS p_wlen,
       |  CAST((CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS DOUBLE)
       |    / len(string_split(text, ' '))) >= 0.02 AS INT) AS p_stop,
       |  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(len(text)) AS BIGINT) AS n_chars,
       | CAST(sum(nw) AS BIGINT) AS n_tokens,
       | CAST(sum(p_len * p_wlen * p_stop) AS BIGINT) AS n_quality_pass,
       | CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
       |FROM a GROUP BY 1""".stripMargin

  /** JSONL ingestion round-trip with quarantine
    * ([[graft.sources.JsonlSource]]): the documents table is written as
    * newline-delimited JSON with one malformed line injected per 50 docs,
    * read back through the text-scan + from_json quarantine path, and the
    * gate ships every recovered row's content hash plus the quarantine
    * count — so JSON escaping, parse recovery, and the nothing-silently-
    * dropped contract are all pinned against the source of truth (the
    * oracle never touches the file; it derives from the table). */
  def qJsonl(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.JsonlSource
    val base = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val path = workDir("graft_jsonl", dir)
    base.select(to_json(struct(col("doc_id"), col("text"))).as("value"))
      .unionByName(base.where(col("doc_id") % 50 === 0)
        .select(concat(lit("{broken json line "), col("doc_id")).as("value")))
      .write.mode("overwrite").text(path)
    val (good, bad) = JsonlSource.read(spark, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val nBad = bad.agg(count(lit(1)).as("n_bad"))
    good.select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
      .crossJoin(broadcast(nBad)) // 1-row quarantine summary rides along
  }

  val qJsonlSql: String =
    """SELECT doc_id, md5(text) AS text_md5,
      | (SELECT count(*) FROM documents WHERE doc_id % 50 = 0) AS n_bad
      |FROM documents""".stripMargin

  /** Deterministic negative sampling ([[graft.text.NegativeSample]]):
    * contrastive (anchor, positive, negatives) triples over the dense
    * embeddings id space — anchors are the %10==0 vectors, positive =
    * the next id, 4 negatives each via the skip construction (a positive
    * can never draw itself). Pure integer arithmetic, replayed exactly. */
  def qNegSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.NegativeSample
    val n = table(spark, dir, "embeddings").count()
    val pairs = table(spark, dir, "embeddings")
      .where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("anchor"),
        pmod(col("vec_id") + 1, lit(n)).as("pos"))
    NegativeSample.draw(pairs, "anchor", "pos", n, k = 4, salt = 3)
  }

  val qNegSampleSql: String = {
    // the oracle re-derives n with a scalar subquery (the count is part
    // of the replay, not a baked-in constant)
    // seed pre-reduced mod SeedCap like NegativeSample.draw (overflow
    // guard — identical values for seeds below the cap)
    val cap = graft.text.CorpusSplit.SeedCap
    val negExpr = s"CASE WHEN (((anchor * 4 + neg_idx + 3) % $cap) * 2654435761) % (n - 1) >= pos " +
      s"THEN (((anchor * 4 + neg_idx + 3) % $cap) * 2654435761) % (n - 1) + 1 " +
      s"ELSE (((anchor * 4 + neg_idx + 3) % $cap) * 2654435761) % (n - 1) END"
    s"""WITH c AS (SELECT count(*) AS n FROM embeddings),
       |p AS (SELECT vec_id AS anchor, (vec_id + 1) % (SELECT n FROM c) AS pos
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |x AS (SELECT anchor, pos, unnest(generate_series(0, 3)) AS neg_idx,
       |  (SELECT n FROM c) AS n FROM p)
       |SELECT anchor, pos, CAST(neg_idx AS INT) AS neg_idx,
       | $negExpr AS neg_id
       |FROM x""".stripMargin
  }

  /** Token-window chunking ([[graft.text.TextChunk.chunkByTokens]] — the
    * retrieval/long-context layout step): 40-token windows, 8-token
    * overlap. Scan-local built-in expressions only; every chunk's full
    * text is hash-gated (md5) plus its exact token count and index. The
    * oracle replays the identical integer window arithmetic. */
  def qTextChunks(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextChunk.chunkByTokens(
        table(spark, dir, "documents"), "doc_id", "text",
        size = 40, overlap = 8)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        md5(col("chunk_text").cast("binary")).as("chunk_md5"))

  val qTextChunksSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      |c AS (SELECT doc_id, ws,
      |  unnest(generate_series(0,
      |    greatest(1, CAST(floor((len(ws) - 8 + 31) / 32.0) AS BIGINT)) - 1))
      |    AS chunk_idx
      |  FROM w)
      |SELECT doc_id, chunk_idx,
      | len(ws[chunk_idx * 32 + 1 : chunk_idx * 32 + 40]) AS n_tokens,
      | md5(array_to_string(ws[chunk_idx * 32 + 1 : chunk_idx * 32 + 40], ' '))
      |   AS chunk_md5
      |FROM c""".stripMargin

  /** Sentence-window chunking ([[graft.text.TextChunk.chunkBySentences]],
    * the RAG layout that never cuts mid-sentence): the synthetic corpus
    * has no punctuation, so the gate first plants deterministic sentence
    * boundaries (every ` value ` becomes `. ` — plain left-to-right
    * replace, identical in both engines), then windows 3 sentences with
    * 1-sentence overlap. The oracle replays the pinned replace-then-split
    * boundary rule (RE2 `\1` vs Java `$1` is syntax, not semantics) and
    * the same integer window arithmetic as q_text_chunks. */
  def qSentenceChunks(spark: SparkSession, dir: String): DataFrame = {
    val punct = table(spark, dir, "documents")
      .select(col("doc_id"),
        expr("replace(text, ' value ', '. ')").as("text"))
    graft.text.TextChunk.chunkBySentences(punct, "doc_id", "text",
        size = 3, overlap = 1)
      .select(col("doc_id"), col("chunk_idx"), col("n_sentences"),
        md5(col("chunk_text").cast("binary")).as("chunk_md5"))
  }

  val qSentenceChunksSql: String =
    """WITH w AS (SELECT doc_id,
      |  string_split(regexp_replace(replace(text, ' value ', '. '),
      |    '([.!?])[ \t\n\f\r]+', '\1' || chr(1), 'g'), chr(1)) ss
      |  FROM documents),
      |c AS (SELECT doc_id, ss,
      |  unnest(generate_series(0,
      |    greatest(1, CAST(floor((len(ss) - 1 + 1) / 2.0) AS BIGINT)) - 1))
      |    AS chunk_idx
      |  FROM w)
      |SELECT doc_id, chunk_idx,
      | len(ss[chunk_idx * 2 + 1 : chunk_idx * 2 + 3]) AS n_sentences,
      | md5(array_to_string(ss[chunk_idx * 2 + 1 : chunk_idx * 2 + 3], ' '))
      |   AS chunk_md5
      |FROM c""".stripMargin

  /** Cross-corpus line-level dedup (C4-style): each distinct line keeps
    * its first (doc_id, position) occurrence, documents reassemble from
    * surviving lines in order; output = doc_id + md5 of the rebuilt text
    * (bit-parity without shipping full documents through the compare).
    * The oracle re-derives first-occurrence with a row_number window over
    * the same (doc_id, pos) order. */
  def qDedupLines(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.TextDedup.dedupLinesAcross(
        table(spark, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))

  val qDedupLinesSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, chr(10)) ls FROM documents),
      |l AS (SELECT doc_id, unnest([{'pos': i, 'line': ls[i]}
      |    for i in generate_series(1, len(ls))], recursive := true)
      |  FROM d),
      |keep AS (SELECT doc_id, pos, line FROM (
      |  SELECT doc_id, pos, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) rn FROM l)
      |  WHERE rn = 1)
      |SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5
      |FROM keep GROUP BY doc_id""".stripMargin

  /** Duplicated-span removal (exact substring dedup at 5-gram granularity):
    * spans occurring more than once keep only their first (doc_id, pos)
    * occurrence; other occurrences' tokens are cut and documents
    * reassemble. The operator keys grams by xxhash64 of the gram substring
    * (16-byte shuffle rows); the oracle re-derives the identical logic on
    * the gram STRINGS — equal modulo 64-bit hash collisions, of which the
    * sf0.01 corpus has none (gram equality is what both sides group on). */
  def qDedupSpans(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.TextDedup.dedupSpansAcross(
        table(spark, dir, "documents"), "doc_id", "text", k = 5)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))

  val qDedupSpansSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |toks AS (SELECT doc_id, unnest([{'pos': i-1, 'tok': ts[i]}
      |    for i in generate_series(1, len(ts))], recursive := true)
      |  FROM d),
      |grams AS (SELECT doc_id, unnest([{'pos': i-1,
      |      'g': array_to_string(ts[i : i+4], ' ')}
      |    for i in generate_series(1, len(ts)-4)], recursive := true)
      |  FROM d),
      |occ AS (SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) rn,
      |    count(*) OVER (PARTITION BY g) c
      |  FROM grams),
      |covered AS (SELECT DISTINCT doc_id, pos + delta AS pos
      |  FROM (SELECT doc_id, pos FROM occ WHERE c >= 2 AND rn > 1),
      |       (SELECT unnest(generate_series(0, 4)) AS delta)),
      |surv AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
      |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
      |  WHERE c.doc_id IS NULL)
      |SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS text_md5
      |FROM surv GROUP BY doc_id""".stripMargin

  /** FULL BPE tokenizer application: train a merge list on the corpus,
    * checkpoint it, then encode every document with the [[graft.functions
    * .BpeEncode]] kernel (greedy lowest-rank merges — on a trained list
    * equal to sequential rank-order passes; PipelineOpsSpec pins that
    * equivalence). The oracle replays the sequential formulation in SQL: a
    * recursive CTE walks the checkpointed merges in rank order, applying
    * each as a left-to-right non-overlapping pass via string `replace` over
    * a boundary-wrapped symbol encoding (\x01 a \x01\x01 b \x01 occurrences
    * never share characters, so replace-all IS the non-overlapping pass;
    * sound because the corpus contains no \x01). Output: per-doc token
    * stream md5 + token count. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val merges = graft.text.BpeTrainer.train(docs, "text", numMerges = 8,
      minCount = 2)
    val mergeDf = spark.createDataFrame(
      merges.map(m => (m.rank, m.left, m.right))).toDF("rank", "l", "r")
    writeOracleAux(mergeDf, dir, "bpe_merges")
    docs.select(col("doc_id"),
        graft.text.BpeTrainer.encode(col("text"), merges).as("__t"))
      .select(col("doc_id"),
        md5(concat_ws("\u0001", col("__t")).cast("binary")).as("tok_md5"),
        size(col("__t")).cast("long").as("n_tokens"))
  }

  val qBpeEncodeSql: String = {
    val pat = graft.text.TextFunctions.BpePretokenPattern.replace("'", "''")
    s"""WITH RECURSIVE m AS (SELECT rank, l, r FROM ${auxSql("bpe_merges")}),
       |pt AS (SELECT doc_id, unnest([{'widx': i, 'w': ws[i]}
       |    for i in generate_series(1, len(ws))], recursive := true)
       |  FROM (SELECT doc_id, regexp_extract_all(text, '$pat', 1) ws
       |        FROM documents)),
       |words AS (SELECT doc_id, widx,
       |    chr(1) || array_to_string(string_split(w, ''), chr(1)||chr(1))
       |      || chr(1) AS s
       |  FROM pt),
       |it AS (
       |  SELECT doc_id, widx, s, 0 AS round FROM words
       |  UNION ALL
       |  SELECT it.doc_id, it.widx,
       |    replace(it.s, chr(1)||m.l||chr(1)||chr(1)||m.r||chr(1),
       |      chr(1)||m.l||m.r||chr(1)),
       |    it.round + 1
       |  FROM it JOIN m ON m.rank = it.round),
       |fin AS (SELECT doc_id, widx,
       |    string_split(s[2 : len(s)-1], chr(1)||chr(1)) AS toks
       |  FROM it WHERE round = (SELECT count(*) FROM m)),
       |tok AS (SELECT doc_id, widx, unnest([{'tidx': i, 'tok': toks[i]}
       |    for i in generate_series(1, len(toks))], recursive := true)
       |  FROM fin),
       |agg AS (SELECT doc_id,
       |    string_agg(tok, chr(1) ORDER BY widx, tidx) AS stream,
       |    count(*) AS n_tokens
       |  FROM tok GROUP BY doc_id)
       |SELECT d.doc_id, md5(coalesce(a.stream, '')) AS tok_md5,
       |  coalesce(a.n_tokens, 0) AS n_tokens
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
  }

  /** WordPiece tokenizer application ([[graft.functions.WordPieceEncode]]
    * — greedy longest-match-first over a vocabulary with `##` continuation
    * entries; a word with any unmatched position collapses to a single
    * `[UNK]`, BERT's semantics). The vocabulary is corpus-derived and
    * deterministic — top-80 whole words (count desc, word asc) plus the
    * fixed a-z alphabet as bare and continuation singles — and is
    * checkpointed so the oracle consumes the same bits. The oracle replays
    * greedy matching with a recursive CTE: each step filters the vocab
    * list for entries prefixing the word remainder in the current lane
    * (bare at pos 0, `##`-stripped continuation after) and consumes the
    * longest via list lambdas — pure expressions, legal in a recursive
    * term where aggregates are not. Sound because corpus text carries no
    * '##' or chr(1) (checked; '##'-containing words could cross lanes).
    * Output: per-doc token-stream md5 + token count. */
  def qWordpiece(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val top = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(80).collect().map(_.getString(0)).toSeq // bounded: 80 rows
    val chars = ('a' to 'z').map(_.toString)
    val vocab = (top ++ chars ++ chars.map("##" + _)).distinct
    writeOracleAux(
      spark.createDataFrame(vocab.map(Tuple1(_))).toDF("tok"), dir, "wp_vocab")
    docs.select(col("doc_id"),
        graft.functions.wordpiece_encode(col("text"), vocab).as("__t"))
      .select(col("doc_id"),
        md5(concat_ws("\u0001", col("__t")).cast("binary")).as("tok_md5"),
        size(col("__t")).cast("long").as("n_tokens"))
  }

  val qWordpieceSql: String =
    s"""WITH RECURSIVE vl AS (SELECT list(tok) AS v FROM ${auxSql("wp_vocab")}),
       |w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |words AS (SELECT doc_id, widx, w FROM (
       |    SELECT doc_id, unnest([{'widx': i, 'w': ws[i]}
       |        for i in generate_series(1, len(ws))], recursive := true)
       |    FROM w0) WHERE len(w) > 0),
       |st AS (
       |  SELECT doc_id, widx, w, 0 AS pos, CAST([] AS VARCHAR[]) AS toks
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, widx, w,
       |    CASE WHEN best IS NULL THEN len(w) ELSE pos + best END AS pos,
       |    CASE WHEN best IS NULL THEN ['[UNK]']
       |         WHEN pos = 0 THEN list_append(toks, w[1 : best])
       |         ELSE list_append(toks, '##' || w[pos+1 : pos+best]) END AS toks
       |  FROM (
       |    SELECT doc_id, widx, w, pos, toks,
       |      list_max(list_transform(
       |        list_filter((SELECT v FROM vl), t ->
       |          CASE WHEN pos = 0
       |            THEN t NOT LIKE '##%' AND t = w[1 : len(t)]
       |            ELSE t LIKE '##%' AND len(t) > 2
       |                 AND t[3 : len(t)] = w[pos+1 : pos+len(t)-2] END),
       |        t -> CASE WHEN pos = 0 THEN len(t) ELSE len(t) - 2 END)) AS best
       |    FROM st WHERE pos < len(w))),
       |fin AS (SELECT doc_id, widx, toks FROM st WHERE pos >= len(w)),
       |tok AS (SELECT doc_id, widx, tidx, tok FROM (
       |    SELECT doc_id, widx, unnest([{'tidx': i, 'tok': toks[i]}
       |        for i in generate_series(1, len(toks))], recursive := true)
       |    FROM fin)),
       |agg AS (SELECT doc_id, string_agg(tok, chr(1) ORDER BY widx, tidx) AS stream,
       |        CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id)
       |SELECT d.doc_id AS doc_id, md5(coalesce(a.stream, '')) AS tok_md5,
       |  coalesce(a.n, 0) AS n_tokens
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Incremental line dedup (corpus refresh): docs with doc_id%5==0 play
    * the NEW batch; the STORED table — distinct lines of the rest,
    * checkpointed so the oracle reads the same bits — stands in for the
    * accumulated line store. The Spark side anti-joins on 128-bit
    * two-seed xxhash64 line keys (the operator's 16-byte production
    * shape); the oracle anti-joins on the lines themselves — equal modulo
    * 128-bit collisions, i.e. never in practice. The
    * stored corpus documents are never re-read by the dedup itself.
    * Output: doc_id + rebuilt-text md5. */
  def qDedupLinesIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val storedLines = writeOracleAux(
      docs.where(col("doc_id") % 5 =!= 0)
        .select(explode(split(col("text"), "\n")).as("line")).distinct(),
      dir, "lines_stored")
    val storedKeys = storedLines.select(xxhash64(col("line")).as("lkey"),
      xxhash64(lit(1), col("line")).as("lkey2"))
    graft.dedup.TextDedup.dedupLinesIncremental(
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text", storedKeys)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
  }

  val qDedupLinesIncrementalSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, chr(10)) ls
       |  FROM documents WHERE doc_id % 5 = 0),
       |l AS (SELECT doc_id, unnest([{'pos': i, 'line': ls[i]}
       |    for i in generate_series(1, len(ls))], recursive := true)
       |  FROM d),
       |keep0 AS (SELECT doc_id, pos, line FROM (
       |  SELECT doc_id, pos, line,
       |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) rn FROM l)
       |  WHERE rn = 1),
       |keep AS (SELECT k.doc_id, k.pos, k.line FROM keep0 k
       |  LEFT JOIN ${auxSql("lines_stored")} s ON k.line = s.line
       |  WHERE s.line IS NULL)
       |SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5
       |FROM keep GROUP BY doc_id""".stripMargin

  /** MinHash+LSH near-dup candidates. The seeded-hash signature family is
    * engine-internal, so the gate checkpoints the signature table and the
    * oracle re-derives everything downstream of it in SQL: banding (a band
    * collides iff the 4-long signature slices are equal — Spark buckets by
    * xxhash64 of the slice, an implementation detail of the shuffle key),
    * pair join, agreement/64 estimate (exact power-of-two division), and
    * threshold. Signature RECALL remains ScalaTest-gated vs exact n-gram
    * Jaccard pairs. */
  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sig = writeOracleAux(
      graft.dedup.TextDedup.minHashSignatures(
        table(spark, dir, "documents"), "doc_id", "text", n = 3, numHashes = 64),
      dir, "minhash_sigs")
    graft.dedup.TextDedup.lshPairsFromSignatures(
      sig, "doc_id", numHashes = 64, bands = 16, estThreshold = 0.5)
  }

  val qMinhashLshSql: String =
    s"""WITH s AS (SELECT doc_id, minhash FROM ${auxSql("minhash_sigs")}),
       |bd AS (SELECT doc_id, bnd, minhash[bnd*4+1 : bnd*4+4] AS key
       |  FROM s, (SELECT unnest(generate_series(0,15)) AS bnd)),
       |cand AS (SELECT DISTINCT a.doc_id ida, b.doc_id idb FROM bd a
       |  JOIN bd b ON a.bnd = b.bnd AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT ida, idb, est_jaccard FROM (
       | SELECT ida, idb, CAST(len(list_filter(generate_series(1,64),
       |   i -> sa.minhash[i] = sb.minhash[i])) AS DOUBLE)/64.0 AS est_jaccard
       | FROM cand JOIN s sa ON sa.doc_id = ida JOIN s sb ON sb.doc_id = idb)
       |WHERE est_jaccard >= 0.5""".stripMargin

  /** q_minhash_lsh through the SQL TABLE-function surface
    * ([[graft.functions.TableFunctions.minhashLshPairs]], round-13 verdict
    * #7): the WHOLE pipeline — shingles → affine-minhash signatures →
    * banded shuffle-hash self-join → estimate/threshold — invoked from one
    * `spark.sql` TVF call. The TVF hands back the Scala operator's own
    * logical plan, so this plans identically to q_minhash_lsh
    * (TableFunctionsSpec asserts no cartesian/nested-loop). Oracle = the
    * same banding SQL over an independently-written signature aux. */
  def qMinhashLshSqlGate(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TableFunctions.registerAll(spark)
    // the oracle's signature aux, written independently of the TVF path
    // (deterministic content — the gate stays self-contained in a filtered
    // Verify run)
    writeOracleAux(
      graft.dedup.TextDedup.minHashSignatures(
        table(spark, dir, "documents"), "doc_id", "text", n = 3, numHashes = 64),
      dir, "minhash_sigs_sql")
    table(spark, dir, "documents").createOrReplaceTempView("gate_mlsh_docs")
    spark.sql(
      "SELECT * FROM minhash_lsh_pairs('gate_mlsh_docs', 'doc_id', 'text'," +
        " 3, 64, 16, 0.5D)")
  }

  val qMinhashLshSqlGateSql: String =
    qMinhashLshSql.replace("minhash_sigs/", "minhash_sigs_sql/")

  /** q_ann_topk through the SQL TABLE-function surface
    * ([[graft.functions.TableFunctions.annTopk]]): broadcast query side +
    * bounded per-partition heap, invoked from one `spark.sql` TVF call;
    * same oracle as q_ann_topk (no aux — DuckDB recomputes the cosines). */
  def qAnnTopkSqlGate(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TableFunctions.registerAll(spark)
    val emb = table(spark, dir, "embeddings")
    emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
      .createOrReplaceTempView("gate_ann_items")
    emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .createOrReplaceTempView("gate_ann_queries")
    spark.sql(
      "SELECT qid, nid, rank AS rk FROM ann_topk('gate_ann_items', 'nid'," +
        " 'ivec', 'gate_ann_queries', 'qid', 'qvec', 5)")
  }

  /** The C4-style clean driven ENTIRELY from `spark.sql()` (round-14
    * verdict #5 — SQL surface completeness): language/quality filter →
    * exact dedup → cross-corpus line dedup → deterministic split
    * assignment, each stage a curation TVF chained through temp views, no
    * Scala API call anywhere on the data path. Every stage's semantics is
    * individually gate-pinned (q_corpus_clean's base/ex CTEs, q_dedup_lines,
    * q_corpus_splits' hash arithmetic); the oracle here composes those
    * exact CTE texts, so a drift in ANY stage breaks this gate too. */
  def qPipelineSqlGate(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TableFunctions.registerAll(spark)
    table(spark, dir, "documents").createOrReplaceTempView("gate_pipe_docs")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW gate_pipe_s1 AS " +
      "SELECT * FROM quality_filter('gate_pipe_docs', 'text', 'en', 0.3D)")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW gate_pipe_s2 AS " +
      "SELECT * FROM dedup_exact('gate_pipe_s1', 'doc_id', 'text')")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW gate_pipe_s3 AS " +
      "SELECT * FROM dedup_lines('gate_pipe_s2', 'doc_id', 'text')")
    spark.sql("SELECT doc_id, split, md5(cast(text AS binary)) AS text_md5 " +
      "FROM assign_splits('gate_pipe_s3', 'doc_id', " +
      "'train:0.9,val:0.05,test:0.05', 0)")
  }

  val qPipelineSqlGateSql: String =
    s"""WITH base AS (
       | SELECT doc_id, text FROM documents
       | WHERE (CASE WHEN CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |   / len(string_split(text,' ')) >= 0.05 THEN 'en' ELSE 'und' END) = 'en'
       |  AND 0.5 * (CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |   / len(string_split(text,' ')))
       | + 0.5 * least((CAST(len(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |   / len(string_split(text,' '))) / 8.0, 1.0) >= 0.3),
       |ex AS (SELECT doc_id, text FROM (
       |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS mn FROM base)
       |  WHERE doc_id = mn),
       |d AS (SELECT doc_id, string_split(text, chr(10)) ls FROM ex),
       |l AS (SELECT doc_id, unnest([{'pos': i, 'line': ls[i]}
       |    for i in generate_series(1, len(ls))], recursive := true)
       |  FROM d),
       |keep AS (SELECT doc_id, pos, line FROM (
       |  SELECT doc_id, pos, line,
       |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) rn FROM l)
       |  WHERE rn = 1),
       |asm AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
       |  FROM keep GROUP BY doc_id)
       |SELECT doc_id,
       | ${graft.text.CorpusSplit.assignSplitsSql("doc_id",
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), 0L)} AS split,
       | md5(text) AS text_md5
       |FROM asm""".stripMargin

  /** Incremental MinHash dedup (corpus refresh): docs with doc_id%5==0
    * play the NEW batch, the rest the STORED corpus; both signature tables
    * checkpoint so the banding / cross join / estimate / threshold
    * downstream is pure SQL over the same bits. The stored side is never
    * re-shingled — that is the operator's contract. */
  def qMinhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val (newSig, oldSig) = writeOracleAuxPar(dir,
      (graft.dedup.TextDedup.minHashSignatures(
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text",
        n = 3, numHashes = 64), "minhash_new"),
      (graft.dedup.TextDedup.minHashSignatures(
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text",
        n = 3, numHashes = 64), "minhash_stored"))
    graft.dedup.TextDedup.lshPairsIncremental(
      newSig, oldSig, "doc_id", numHashes = 64, bands = 16, estThreshold = 0.5)
  }

  val qMinhashIncrementalSql: String =
    s"""WITH ns AS (SELECT doc_id, minhash FROM ${auxSql("minhash_new")}),
       |os AS (SELECT doc_id, minhash FROM ${auxSql("minhash_stored")}),
       |nb AS (SELECT doc_id, minhash, bnd, minhash[bnd*4+1 : bnd*4+4] AS key
       |  FROM ns, (SELECT unnest(generate_series(0,15)) AS bnd)),
       |ob AS (SELECT doc_id, minhash, bnd, minhash[bnd*4+1 : bnd*4+4] AS key
       |  FROM os, (SELECT unnest(generate_series(0,15)) AS bnd)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id new_id, b.doc_id other_id, false other_is_new
       |  FROM nb a JOIN ob b ON a.bnd = b.bnd AND a.key = b.key
       |  UNION
       |  SELECT DISTINCT a.doc_id, b.doc_id, true
       |  FROM nb a JOIN nb b ON a.bnd = b.bnd AND a.key = b.key
       |    AND a.doc_id < b.doc_id),
       |est AS (SELECT new_id, other_id, other_is_new,
       |  CAST(len(list_filter(generate_series(1,64),
       |    i -> sa.minhash[i] = sb.minhash[i])) AS DOUBLE)/64.0 AS est_jaccard
       | FROM cand
       | JOIN ns sa ON sa.doc_id = new_id
       | JOIN (SELECT * FROM ns UNION ALL SELECT * FROM os) sb ON sb.doc_id = other_id)
       |SELECT new_id, other_id, est_jaccard, other_is_new FROM est
       |WHERE est_jaccard >= 0.5""".stripMargin

  /** SimHash near-dup pairs — same checkpoint pattern: the fingerprint
    * expression is engine-internal, the 16-bit band blocking and exact
    * bit_count(xor) Hamming refine downstream are pure integer SQL. */
  def qSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sig = writeOracleAux(
      graft.dedup.TextDedup.simHashFingerprints(
        table(spark, dir, "documents"), "doc_id", "text"),
      dir, "simhash_sigs")
    graft.dedup.TextDedup.simHashPairsFromFingerprints(sig, "doc_id", maxHamming = 10)
  }

  /** Band key: arithmetic shift + mask equals Spark's shiftrightunsigned +
    * mask for shifts <= 48 (the mask keeps only genuine bits). */
  val qSimhashSql: String =
    s"""WITH s AS (SELECT doc_id, sh FROM ${auxSql("simhash_sigs")}),
       |bd AS (SELECT doc_id, bnd, (sh >> (bnd*16)) & 65535 AS key
       |  FROM s, (SELECT unnest(generate_series(0,3)) AS bnd)),
       |cand AS (SELECT DISTINCT a.doc_id ida, b.doc_id idb FROM bd a
       |  JOIN bd b ON a.bnd = b.bnd AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT ida, idb, hamming FROM (
       | SELECT ida, idb, bit_count(xor(sa.sh, sb.sh)) AS hamming
       | FROM cand JOIN s sa ON sa.doc_id = ida JOIN s sb ON sb.doc_id = idb)
       |WHERE hamming <= 10""".stripMargin

  /** Brute-force exact cosine top-5 neighbors for every 50th vector —
    * rank-only output keeps the compare FP-exact (double-accumulated cosine
    * ordering is rank-stable vs DuckDB's float path; verified empirically). */
  def qAnnTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.ann.Similarity.topKBrute(items, "nid", "ivec", queries, "qid", "qvec", k = 5)
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  val qAnnTopkSql: String =
    """WITH q AS (SELECT vec_id qid, embedding e FROM embeddings WHERE vec_id % 50 = 0),
      |p AS (SELECT q.qid, b.vec_id nid,
      |  list_sum(list_transform(generate_series(1,64),
      |    i -> CAST(q.e[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
      |  AS c
      | FROM q JOIN embeddings b ON b.vec_id <> q.qid)
      |SELECT qid, nid, rk FROM (
      | SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) rk
      | FROM p) WHERE rk <= 5""".stripMargin

  /** Int8-quantized brute ANN: embeddings quantize to per-vector int8
    * codes + scale ([[graft.ann.Quantize]] — the 4× storage layout),
    * checkpoint as aux, and top-5 cosine runs over the DEQUANTIZED
    * vectors. The oracle dequantizes the same aux codes in SQL and ranks
    * the identically-accumulated double cosine — rank-only output, the
    * q_ann_topk FP-stability precedent. Quantization arithmetic itself is
    * spec-gated (error bound, recall). */
  def qAnnInt8(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val aux = writeOracleAux(
      graft.ann.Quantize.quantizeInt8(emb, "embedding")
        .select(col("vec_id"), col("q_codes"), col("q_scale")),
      dir, "int8_codes")
    val dq = aux.select(col("vec_id"),
      graft.ann.Quantize.dequantize(col("q_codes"), col("q_scale")).as("dvec"))
    val items = dq.select(col("vec_id").as("nid"), col("dvec").as("ivec"))
    val queries = dq.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("dvec").as("qvec"))
    graft.ann.Similarity.topKBrute(items, "nid", "ivec",
        queries, "qid", "qvec", k = 5)
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  /** The dequantized vector round-trips through FLOAT on the Spark side
    * (the cosine kernel's input type) — the oracle mirrors that cast
    * exactly, then promotes to DOUBLE for the products like the kernel. */
  val qAnnInt8Sql: String =
    s"""WITH d AS (SELECT vec_id,
       |    list_transform(q_codes,
       |      c -> CAST(CAST(c AS DOUBLE) * q_scale AS FLOAT)) AS e
       |  FROM ${auxSql("int8_codes")}),
       |q AS (SELECT vec_id qid, e FROM d WHERE vec_id % 50 = 0),
       |p AS (SELECT q.qid, b.vec_id nid,
       |  list_sum(list_transform(generate_series(1,64),
       |    i -> CAST(q.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(b.e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
       |  AS c
       | FROM q JOIN d b ON b.vec_id <> q.qid)
       |SELECT qid, nid, rk FROM (
       | SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) rk
       | FROM p) WHERE rk <= 5""".stripMargin

  /** D1 (as LLM-pipeline exact dedup): keep min doc_id per identical text. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  val qDedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin

  // --------------------------------------- round-3 coverage: J7/J8/J10/J11,
  // P1 projection language, two-level tiling, partitioner rotation. Each
  // spatial gate below runs a DIFFERENT partitioner (str/hc/qt/slc/bos/bsp)
  // so every G1-G7 algorithm is exercised against a value-exact oracle, not
  // only in ScalaTest — the join result is partitioner-invariant, so the
  // same plain-SQL oracle stays valid for all of them.

  /** J10: st_within join through the tiled engine (str partitioner — G4).
    * Box-in-box: JTS within is closed containment for positive-area
    * rectangles (boundary contact allowed; equal boxes are within). */
  def qSpjoinWithin(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir)
    val a = b.select(col("id").as("id1"), col("geom").as("g1"))
    val c = b.select(col("id").as("id2"), col("geom").as("g2"))
    SpatialJoin.join(a, "g1", c, "g2",
        SpatialJoin.Config(predicate = "within", partitioner = "str", bucket = 500))
      .where(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"))
  }

  val qSpjoinWithinSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT a.id AS id1, c.id AS id2 FROM b a JOIN b c ON a.id <> c.id
       | AND a.x0 >= c.x0 AND a.y0 >= c.y0
       | AND a.x0 + a.w <= c.x0 + c.w AND a.y0 + a.w <= c.y0 + c.w""".stripMargin

  /** J11: st_overlaps join (hc partitioner — G5): part boxes vs a
    * half-cell-shifted copy (+4,+4), so interiors genuinely cross without
    * nesting (a self-join on the anchored lattice only ever nests or
    * touches — overlaps would be vacuously empty). Overlaps = interiors
    * intersect and neither box is a (closed) subset of the other. */
  def qSpjoinOverlaps(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir)
    val a = b.select(col("id").as("id1"), col("geom").as("g1"))
    val c = b.select(col("id").as("id2"),
      st_makebox(col("x0") + 4.0, col("y0") + 4.0,
        col("x0") + 4.0 + col("w"), col("y0") + 4.0 + col("w")).as("g2"))
    SpatialJoin.join(a, "g1", c, "g2",
        SpatialJoin.Config(predicate = "overlaps", partitioner = "hc", bucket = 500))
      .select(col("id1"), col("id2"))
  }

  val qSpjoinOverlapsSql: String =
    s"""WITH b AS ($partBoxesSql),
       |d AS (SELECT id, x0 + 4.0 AS x0, y0 + 4.0 AS y0, w FROM b)
       |SELECT a.id AS id1, c.id AS id2 FROM b a JOIN d c ON
       |     a.x0 < c.x0 + c.w AND c.x0 < a.x0 + a.w
       | AND a.y0 < c.y0 + c.w AND c.y0 < a.y0 + a.w
       | AND NOT (a.x0 >= c.x0 AND a.y0 >= c.y0
       |      AND a.x0 + a.w <= c.x0 + c.w AND a.y0 + a.w <= c.y0 + c.w)
       | AND NOT (c.x0 >= a.x0 AND c.y0 >= a.y0
       |      AND c.x0 + c.w <= a.x0 + a.w AND c.y0 + c.w <= a.y0 + a.w)""".stripMargin

  /** J7: st_adjacent (the reference's !disjoint synonym,
    * resque_datastructs_2d.hpp:22,35) through the engine (qt partitioner —
    * G3). For rectangles, adjacent == closed-envelope overlap. */
  def qSpjoinAdjacent(spark: SparkSession, dir: String): DataFrame = {
    val b = partBoxes(spark, dir)
    val a = b.select(col("id").as("id1"), col("geom").as("g1"))
    val c = b.select(col("id").as("id2"), col("geom").as("g2"))
    SpatialJoin.join(a, "g1", c, "g2",
        SpatialJoin.Config(predicate = "adjacent", partitioner = "qt", bucket = 500))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
  }

  val qSpjoinAdjacentSql: String =
    s"""WITH b AS ($partBoxesSql)
       |SELECT a.id AS id1, c.id AS id2 FROM b a JOIN b c ON a.id < c.id
       | AND a.x0 <= c.x0 + c.w AND c.x0 <= a.x0 + a.w
       | AND a.y0 <= c.y0 + c.w AND c.y0 <= a.y0 + a.w""".stripMargin

  /** J8, GLOBAL variant: true disjointness as a left-anti join over
    * st_intersects (SURVEY J8's documented "correct global version") —
    * customer points covered by NO part box. The tile-local J8 stays
    * programmatic-API-only with its caveat; this is the semantics a SQL
    * user gets. Inner join runs the slc partitioner (G6). */
  def qDisjointGlobal(spark: SparkSession, dir: String): DataFrame = {
    val parts = partBoxes(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g2"))
    val hit = SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "intersects", partitioner = "slc", bucket = 500))
      .select(col("cid"))
    custs.select(col("cid")).join(hit, Seq("cid"), "left_anti")
  }

  val qDisjointGlobalSql: String =
    s"""WITH b AS ($partBoxesSql), c AS ($custPointsSql)
       |SELECT c.id AS cid FROM c WHERE NOT EXISTS (SELECT 1 FROM b
       | WHERE c.px >= b.x0 AND c.px <= b.x0 + b.w
       |   AND c.py >= b.y0 AND c.py <= b.y0 + b.w)""".stripMargin

  /** The SQL form of global disjoint: plain `NOT EXISTS(st_intersects)`
    * text, which Catalyst rewrites to a LeftAnti join and
    * SpatialJoinStrategy plans as SpatialJoinExec in its semi/anti mode —
    * the q_disjoint_global result reachable without the
    * programmatic API. Strategy + function registry are injected
    * idempotently so the gate is self-contained in any session. */
  def qDisjointSql(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.SpatialJoinStrategy
    SpatialJoinStrategy.install(spark)
    graft.functions.registerAll(spark)
    partBoxes(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
      .createOrReplaceTempView("gate_disjoint_parts")
    custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g2"))
      .createOrReplaceTempView("gate_disjoint_custs")
    spark.sql(
      """SELECT cid FROM gate_disjoint_custs
        |WHERE NOT EXISTS (SELECT 1 FROM gate_disjoint_parts
        |                  WHERE st_intersects(g1, g2))""".stripMargin)
  }

  val qDisjointSqlSql: String = qDisjointGlobalSql

  /** P1: the reference's output-projection mini-language
    * (`--fields 1:K,2:K,measure`, resque_params_2d.hpp:70-160) applied to a
    * dwithin self-join (bos partitioner — G7): side-qualified columns plus
    * the lazily-derived mindist measure. All coordinates are lattice
    * integers, so sqrt(dx^2+dy^2) is a single correctly-rounded IEEE op in
    * both engines. */
  def qFields(spark: SparkSession, dir: String): DataFrame = {
    val joined = SpatialJoin.selfJoin(partBoxes(spark, dir), "geom", "id",
      cfg = SpatialJoin.Config(predicate = "dwithin", distance = 3.0,
        partitioner = "bos", bucket = 500))
    graft.api.Fields.project(joined, "1:1,2:1,mindist")
  }

  val qFieldsSql: String =
    s"""WITH b AS ($partBoxesSql),
       |p AS (SELECT a.id AS l_id, c.id AS r_id,
       |  greatest(a.x0 - c.x0 - c.w, c.x0 - a.x0 - a.w, 0) AS dx,
       |  greatest(a.y0 - c.y0 - c.w, c.y0 - a.y0 - a.w, 0) AS dy
       | FROM b a JOIN b c ON a.id < c.id)
       |SELECT l_id, r_id, sqrt(dx*dx + dy*dy) AS mindist FROM p
       |WHERE dx*dx + dy*dy <= 9.0""".stripMargin

  /** Two-level tiling ("para_partition", query_spjoin.hpp:210-230): coarse
    * bsp step-1 then per-coarse-tile step-2, on the dwithin join. Result is
    * tiling-invariant, so the oracle is the same as q_spjoin_dwithin. */
  def qSpjoinTwolevel(spark: SparkSession, dir: String): DataFrame = {
    val parts = partBoxes(spark, dir).select(col("id").as("pid"), col("geom").as("g1"))
    val custs = custPoints(spark, dir).select(col("id").as("cid"), col("geom").as("g2"))
    SpatialJoin.join(parts, "g1", custs, "g2",
        SpatialJoin.Config(predicate = "dwithin", distance = 4.0,
          partitioner = "bsp", bucket = 500, twoLevel = true))
      .select(col("pid"), col("cid"))
  }

  val qSpjoinTwolevelSql: String = qSpjoinDwithinSql

  /** IVF approximate top-k. Centroid training is engine-internal, so the
    * gate checkpoints the trained index — the (item, list) assignments and
    * (query, probed-list) relation — and the oracle re-derives the inverted-
    * list join, exact cosine, and window rank in SQL over them (rank-only
    * output, FP-exact as in q_ann_topk). Recall vs brute force stays
    * ScalaTest-gated. */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val model = graft.ann.IvfIndex.train(items, "ivec", nlist = 16)
    val (assign, probes) = writeOracleAuxPar(dir,
      (graft.ann.IvfIndex.assignments(items, "nid", "ivec", model),
        "ann_ivf_assign"),
      (graft.ann.IvfIndex.probeLists(queries, "qid", "qvec", model, nprobe = 4),
        "ann_ivf_probes"))
    graft.ann.IvfIndex.topKFromAssignments(items, "nid", "ivec",
        queries, "qid", "qvec", k = 5, assign, probes, nlist = 16)
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  val qAnnIvfSql: String =
    s"""WITH asg AS (SELECT nid, list FROM ${auxSql("ann_ivf_assign")}),
       |pr AS (SELECT qid, list FROM ${auxSql("ann_ivf_probes")}),
       |cand AS (SELECT pr.qid, asg.nid FROM pr
       |  JOIN asg ON asg.list = pr.list AND asg.nid <> pr.qid),
       |p AS (SELECT cand.qid, cand.nid,
       |  list_sum(list_transform(generate_series(1,64),
       |    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
       |  AS c
       | FROM cand JOIN embeddings q ON q.vec_id = cand.qid
       |           JOIN embeddings b ON b.vec_id = cand.nid)
       |SELECT qid, nid, rk FROM (
       | SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) rk
       | FROM p) WHERE rk <= 5""".stripMargin

  /** IVF over k-means||-trained centroids (the distributed-init 100 TB
    * option): same checkpoint-the-assignments oracle pattern as q_ann_ivf
    * — the TRAINING is engine-internal, everything downstream of the
    * checkpointed list assignments and probe sets re-derives in SQL, so
    * the gate proves the full search path over distributed-init centroids
    * end-to-end. */
  def qAnnIvfKpar(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val model = graft.ann.IvfIndex.trainKMeansPar(items, "ivec", nlist = 16)
    val (assign, probes) = writeOracleAuxPar(dir,
      (graft.ann.IvfIndex.assignments(items, "nid", "ivec", model),
        "ann_ivfkp_assign"),
      (graft.ann.IvfIndex.probeLists(queries, "qid", "qvec", model, nprobe = 4),
        "ann_ivfkp_probes"))
    graft.ann.IvfIndex.topKFromAssignments(items, "nid", "ivec",
        queries, "qid", "qvec", k = 5, assign, probes, nlist = 16)
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  val qAnnIvfKparSql: String =
    qAnnIvfSql.replace("ann_ivf_assign", "ann_ivfkp_assign")
      .replace("ann_ivf_probes", "ann_ivfkp_probes")

  /** PQ (product-quantization) approximate top-k. Codebook training is
    * engine-internal, so the gate checkpoints the trained index — the
    * exploded (item, sub, code) database and the per-query (sub, code, dq)
    * ADC lookup tables — and the oracle re-derives the scoring join,
    * integer ADC sum, and window rank in SQL over them. The quantized
    * partials make the sum order-independent (exact integer arithmetic on
    * both engines); recall vs brute force stays ScalaTest-gated. */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val model = graft.ann.PqIndex.train(items, "ivec", m = 16, codes = 64)
    writeOracleAuxPar(dir,
      (graft.ann.PqIndex.encode(items, "nid", "ivec", model), "ann_pq_codes"),
      (graft.ann.PqIndex.lookupTables(queries, "qid", "qvec", model),
        "ann_pq_luts"))
    // the ANSWER comes from the compact exhaustive scan (broadcast
    // queries + per-partition bounded heap — topKFromCodes' exploded
    // (sub, code) join spills |queries| x |items| x m rows at the sf10
    // lane); integer sums and tie order are identical by PqIndexSpec,
    // so the exploded checkpoints above stay the oracle's tables
    graft.ann.PqIndex.topKExhaustive(
        graft.ann.PqIndex.encodeCompact(items, "nid", "ivec", model),
        "nid", queries, "qid", "qvec", k = 5, model)
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  val qAnnPqSql: String =
    s"""WITH c AS (SELECT nid, sub, code FROM ${auxSql("ann_pq_codes")}),
       |l AS (SELECT qid, sub, code, dq FROM ${auxSql("ann_pq_luts")}),
       |p AS (SELECT l.qid, c.nid, sum(l.dq) AS d FROM l
       |  JOIN c ON c.sub = l.sub AND c.code = l.code AND c.nid <> l.qid
       |  GROUP BY 1, 2)
       |SELECT qid, nid, rk FROM (
       | SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d ASC, nid) rk
       | FROM p) WHERE rk <= 5""".stripMargin

  /** Residual IVF-PQ (PqIndex.trainResidual/encodeResidual — the
    * clustered-corpus composition, codebooks on coarse-centroid residuals,
    * list-keyed codes and per-probed-list LUTs so the ADC join IS the IVF
    * restriction). Aux-table oracle like q_ann_pq: DuckDB re-runs the
    * integer ADC join + rank over the persisted codes/LUTs. */
  def qAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ivf = graft.ann.IvfIndex.train(items, "ivec", nlist = 16)
    val model = graft.ann.PqIndex.trainResidual(items, "ivec", ivf, m = 16, codes = 16)
    val (codes, luts) = writeOracleAuxPar(dir,
      (graft.ann.PqIndex.encodeResidual(items, "nid", "ivec", model, ivf),
        "ann_ivfpq_codes"),
      (graft.ann.PqIndex.lookupTablesResidual(queries, "qid", "qvec", model,
        ivf, nprobe = 4), "ann_ivfpq_luts"))
    graft.ann.PqIndex.topKFromCodesResidual(codes, "nid", luts, "qid", k = 5)
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  /** The COMPACT residual IVF-PQ execution (one row per item, m-byte code
    * array, per-probe LUT arrays, allocation-free ADC UDF) gated against
    * the EXPLODED layout's SQL semantics: the aux tables are the exploded
    * codes/LUTs from the same deterministic models, and DuckDB's
    * sum-of-partials join must reproduce the compact path's integer ADC
    * sums, ranks and ties exactly. */
  def qAnnIvfPqCompact(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ivf = graft.ann.IvfIndex.train(items, "ivec", nlist = 16)
    val model = graft.ann.PqIndex.trainResidual(items, "ivec", ivf, m = 16, codes = 16)
    writeOracleAuxPar(dir,
      (graft.ann.PqIndex.encodeResidual(items, "nid", "ivec", model, ivf),
        "ann_ivfpqc_codes"),
      (graft.ann.PqIndex.lookupTablesResidual(queries, "qid", "qvec", model,
        ivf, nprobe = 4), "ann_ivfpqc_luts"))
    graft.ann.PqIndex.topKFromCompact(
        graft.ann.PqIndex.encodeResidualCompact(items, "nid", "ivec", model, ivf),
        "nid",
        graft.ann.PqIndex.lookupTablesResidualCompact(queries, "qid", "qvec",
          model, ivf, nprobe = 4),
        "qid", k = 5)
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  val qAnnIvfPqCompactSql: String =
    s"""WITH c AS (SELECT nid, list, sub, code FROM ${auxSql("ann_ivfpqc_codes")}),
       |l AS (SELECT qid, list, sub, code, dq FROM ${auxSql("ann_ivfpqc_luts")}),
       |p AS (SELECT l.qid, c.nid, sum(l.dq) AS d FROM l
       |  JOIN c ON c.list = l.list AND c.sub = l.sub AND c.code = l.code
       |    AND c.nid <> l.qid
       |  GROUP BY 1, 2)
       |SELECT qid, nid, rk FROM (
       | SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d ASC, nid) rk
       | FROM p) WHERE rk <= 5""".stripMargin

  val qAnnIvfPqSql: String =
    s"""WITH c AS (SELECT nid, list, sub, code FROM ${auxSql("ann_ivfpq_codes")}),
       |l AS (SELECT qid, list, sub, code, dq FROM ${auxSql("ann_ivfpq_luts")}),
       |p AS (SELECT l.qid, c.nid, sum(l.dq) AS d FROM l
       |  JOIN c ON c.list = l.list AND c.sub = l.sub AND c.code = l.code
       |    AND c.nid <> l.qid
       |  GROUP BY 1, 2)
       |SELECT qid, nid, rk FROM (
       | SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d ASC, nid) rk
       | FROM p) WHERE rk <= 5""".stripMargin

  /** Dedup clustering: connected components over the exact n-gram Jaccard
    * near-dup pairs — pair MINING turned into dedup DECISIONS (one
    * component label per doc, min-id labeled; singletons label themselves).
    * Large-star/small-star alternation (Components.connectedComponents),
    * O(log n) rounds at any scale. Oracle: DuckDB recursive-CTE
    * reachability over the identical SQL-derived pair set. */
  def qDedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val edges = graft.dedup.TextDedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.5)
    graft.dedup.Components.connectedComponents(
      docs.select(col("doc_id")), "doc_id", edges, "ida", "idb")
  }

  val qDedupClusterSql: String =
    """WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |  [array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)])) AS shingle
      |  FROM w WHERE len(ws) >= 3),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |shared AS (SELECT a.doc_id ida, b.doc_id idb, count(*) s FROM sh a
      |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2),
      |pairs AS (SELECT ida, idb FROM (
      | SELECT ida, idb, CAST(s AS DOUBLE)/(ca.n + cb.n - s) AS jaccard
      | FROM shared JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb)
      | WHERE jaccard >= 0.5),
      |sym AS (SELECT ida AS s, idb AS d FROM pairs
      |        UNION ALL SELECT idb, ida FROM pairs),
      |reach(id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id)
      |SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1""".stripMargin

  /** Quality-RANKED near-dup survivors
    * ([[graft.dedup.Components.dedupByComponentsRanked]]): the same
    * 3-gram Jaccard pair mining and components as q_dedup_cluster, but
    * each cluster keeps its BEST member by the pre-computed `n_chars`
    * quality signal (max score, then min id — deterministic) instead of
    * the arbitrary minimum id. The oracle replays components with the
    * recursive CTE and the survivor argmax relationally. */
  def qDedupRanked(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val edges = graft.dedup.TextDedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.5)
    graft.dedup.Components.dedupByComponentsRanked(
        docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars",
        edges, "ida", "idb")
      .select(col("doc_id"), col("n_chars"))
  }

  val qDedupRankedSql: String =
    """WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |  [array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)])) AS shingle
      |  FROM w WHERE len(ws) >= 3),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |shared AS (SELECT a.doc_id ida, b.doc_id idb, count(*) s FROM sh a
      |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2),
      |pairs AS (SELECT ida, idb FROM (
      | SELECT ida, idb, CAST(s AS DOUBLE)/(ca.n + cb.n - s) AS jaccard
      | FROM shared JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb)
      | WHERE jaccard >= 0.5),
      |sym AS (SELECT ida AS s, idb AS d FROM pairs
      |        UNION ALL SELECT idb, ida FROM pairs),
      |reach(id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
      |comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1),
      |rk AS (SELECT c.doc_id, d.n_chars,
      |    row_number() OVER (PARTITION BY c.comp
      |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
      |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
      |SELECT doc_id, n_chars FROM rk WHERE rk = 1""".stripMargin

  /** End-to-end corpus cleaning (CorpusClean.clean): language filter →
    * quality floor → exact dedup → near-dup cluster survivors — the whole
    * training-data prep composition in one gate, oracled stage-for-stage
    * (langid CASE, bit-identical quality arithmetic, md5 window dedup,
    * recursive-CTE components, survivor filter). */
  def qCorpusClean(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusClean.clean(table(spark, dir, "documents"),
        "doc_id", "text", lang = "en", minQuality = 0.3)
      .select(col("doc_id"))

  val qCorpusCleanSql: String =
    s"""WITH RECURSIVE base AS (
       | SELECT doc_id, text FROM documents
       | WHERE (CASE WHEN CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |   / len(string_split(text,' ')) >= 0.05 THEN 'en' ELSE 'und' END) = 'en'
       |  AND 0.5 * (CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |   / len(string_split(text,' ')))
       | + 0.5 * least((CAST(len(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |   / len(string_split(text,' '))) / 8.0, 1.0) >= 0.3),
       |ex AS (SELECT doc_id, text FROM (
       |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS mn FROM base)
       |  WHERE doc_id = mn),
       |w AS (SELECT doc_id, string_split(text,' ') ws FROM ex),
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |  [array_to_string(ws[i:i+2],' ') for i in generate_series(1, len(ws)-2)])) AS shingle
       |  FROM w WHERE len(ws) >= 3),
       |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       |shared AS (SELECT a.doc_id ida, b.doc_id idb, count(*) s FROM sh a
       |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2),
       |pairs AS (SELECT ida, idb FROM (
       | SELECT ida, idb, CAST(s AS DOUBLE)/(ca.n + cb.n - s) AS jaccard
       | FROM shared JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb)
       | WHERE jaccard >= 0.5),
       |sym AS (SELECT ida AS s, idb AS d FROM pairs
       |        UNION ALL SELECT idb, ida FROM pairs),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM ex
       |  UNION
       |  SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
       |comp AS (SELECT id AS doc_id, min(lab) AS c FROM reach GROUP BY 1)
       |SELECT doc_id FROM comp WHERE doc_id = c""".stripMargin

  /** Sign-random-projection LSH top-k, the bucket-join-only ANN scale path.
    * The projection tables are engine-internal, so the gate checkpoints the
    * bucket relation (the persisted-index read path, topKFromBuckets) and
    * the oracle re-derives the bucket join, exact cosine, and window rank in
    * SQL over it — rank-only output keeps the compare FP-exact, as in
    * q_ann_topk. Recall vs brute force stays ScalaTest-gated. */
  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val bkts = writeOracleAux(
      graft.ann.Similarity.buckets(emb, "vec_id", "embedding", bits = 10, tables = 4),
      dir, "ann_lsh_buckets")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.ann.Similarity.topKFromBuckets(items, "nid", "ivec",
        queries, "qid", "qvec", k = 5, bkts, "vec_id")
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  val qAnnLshSql: String =
    s"""WITH bk AS (SELECT vec_id, tbl, bucket FROM ${auxSql("ann_lsh_buckets")}),
       |qb AS (SELECT vec_id AS qid, tbl, bucket FROM bk WHERE vec_id % 50 = 0),
       |cand AS (SELECT DISTINCT qb.qid, bk.vec_id AS nid FROM qb
       |  JOIN bk ON bk.tbl = qb.tbl AND bk.bucket = qb.bucket AND bk.vec_id <> qb.qid),
       |p AS (SELECT cand.qid, cand.nid,
       |  list_sum(list_transform(generate_series(1,64),
       |    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
       |  AS c
       | FROM cand JOIN embeddings q ON q.vec_id = cand.qid
       |           JOIN embeddings b ON b.vec_id = cand.nid)
       |SELECT qid, nid, rk FROM (
       | SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) rk
       | FROM p) WHERE rk <= 5""".stripMargin

  /** Main-content extraction ([[graft.text.Boilerplate]], jusText
    * class): every document is wrapped as a page whose nav and footer
    * are link farms (long enough to clear the length floor — only link
    * density drops them) plus a sub-floor "tiny" block; the engine must
    * keep EXACTLY the prose block, so the oracle is the bare text — an
    * independent construction that pins segmentation, link-char
    * accounting, and both policy thresholds at once. */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><body><nav><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About this site</a> " +
        "<a href=\"/contact\">Contact</a></nav><div class=\"main\"><p>"),
      col("text"),
      lit("</p></div><p>tiny</p><footer><a href=\"/terms\">Terms of " +
        "service</a> <a href=\"/privacy\">Privacy policy</a></footer>" +
        "</body></html>"))
    graft.text.Boilerplate.extractMain(
        table(spark, dir, "documents").select(col("doc_id"), html.as("html")),
        "html")
      .select(col("doc_id"),
        md5(col("main_text").cast("binary")).as("main_md5"))
  }

  val qBoilerplateSql: String =
    "SELECT doc_id, md5(text) AS main_md5 FROM documents"

  /** Interval attribution join ([[graft.streaming.EventOps
    * .attributeWithin]], run in batch mode — the stream twin is
    * spec-pinned): every (click, view) pair of one user within the
    * trailing hour. Timestamps compare as exact epoch micros on both
    * engines; the interval bound becomes integer micros in the oracle. */
  def qAttribute(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(spark, dir).select(col("event_id"), col("user_id"),
      col("ts").cast("timestamp").as("ts"), col("event_type"))
    graft.streaming.EventOps.attributeWithin(
      e.where(col("event_type") === "click"),
      e.where(col("event_type") === "view"), within = "1 hour")
  }

  val qAttributeSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) uts, event_type
      |  FROM events)
      |SELECT c.user_id, c.uts AS click_uts, c.event_id AS click_id,
      | v.uts AS view_uts, v.event_id AS view_id
      |FROM e c JOIN e v ON v.user_id = c.user_id
      | AND c.event_type = 'click' AND v.event_type = 'view'
      | AND v.uts <= c.uts AND v.uts >= c.uts - 3600000000""".stripMargin

  /** Gopher duplicate-2-gram repetition signals
    * ([[graft.text.Repetition]]): char fraction inside duplicated word
    * 2-grams + the top-2-gram char fraction. The oracle rebuilds the
    * pinned shingle stream with a DuckDB list comprehension (single-
    * space split, empty tokens kept) and the identical integer
    * aggregation; fractions are single divisions of exact ints. */
  def qRepetitionNgram(spark: SparkSession, dir: String): DataFrame =
    graft.text.Repetition.dupNgramStats(
      table(spark, dir, "documents"), "doc_id", "text", n = 2)

  val qRepetitionNgramSql: String =
    """WITH w AS (SELECT doc_id, len(text) AS tl, string_split(text, ' ') ws
      |  FROM documents),
      |g AS (SELECT doc_id, tl,
      |  unnest([array_to_string(ws[i : i + 1], ' ')
      |    for i in generate_series(1, greatest(len(ws) - 1, 0))]) AS g
      |  FROM w),
      |c AS (SELECT doc_id, tl, g, count(*) AS c FROM g GROUP BY 1, 2, 3)
      |SELECT doc_id,
      | CAST(sum(CASE WHEN c >= 2 THEN c * len(g) ELSE 0 END) AS DOUBLE)
      |   / greatest(tl, 1) AS dup_2gram_char_frac,
      | CAST(max(c * len(g)) AS DOUBLE) / greatest(tl, 1)
      |   AS top_2gram_char_frac
      |FROM c GROUP BY doc_id, tl""".stripMargin

  /** FULL crawl curation — the capstone composition over the whole web
    * front door: pages (link-farm nav/footer + prose, as q_boilerplate)
    * shipped as gzipped WARC, streamed back, URL-canonicalized + deduped
    * (colliding spellings as q_url_dedup), boilerplate-stripped to main
    * content, and Gopher-quality-annotated. ONE oracle replays every
    * stage from the documents table: canonical construction → survivor
    * window → main==text (the independent boilerplate construction) →
    * the pinned quality arithmetic. */
  def qCrawlCurate(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.WarcSource
    import graft.text.{Boilerplate, QualityFilter, UrlCurate}
    val path = workDir("graft_crawl2", dir)
    val k = (col("doc_id") % 10).cast("string")
    val gid = concat(lit("gclid=g"), col("doc_id").cast("string"))
    val uri = when(col("doc_id") % 2 === 0,
        concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM:443/doc/"), k, lit("/?utm_source=feed&"), gid,
          lit("#frag")))
      .otherwise(concat(lit("https://"), col("source"),
        lit(".example.com/doc/"), k, lit("?"), gid))
    val html = concat(
      lit("<html><body><nav><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About this site</a> " +
        "<a href=\"/contact\">Contact</a></nav><p>"),
      col("text"),
      lit("</p><p>tiny</p><footer><a href=\"/terms\">Terms of service</a> " +
        "<a href=\"/privacy\">Privacy policy</a></footer></body></html>"))
    val recs = table(spark, dir, "documents").select(
      uri.as("target_uri"), lit("2026-01-01T00:00:00Z").as("warc_date"),
      lit(200).as("http_status"),
      lit("text/html; charset=utf-8").as("http_content_type"),
      html.cast("binary").as("body"))
    WarcSource.write(recs, path)
    val pages = WarcSource.read(spark, path).toDF()
      .where(col("record_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "gclid=g(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("target_uri").as("url"), col("body").cast("string").as("html"))
    val main = Boilerplate.extractMain(
      UrlCurate.dedupByUrl(pages, "url", "doc_id"), "html")
    QualityFilter.annotate(main, "main_text")
      .select(col("doc_id"), col("url_canon"),
        md5(col("main_text").cast("binary")).as("main_md5"), col("keep"))
  }

  val qCrawlCurateSql: String =
    s"""WITH u AS (SELECT doc_id, text,
       |  'https://' || lower(source) || '.example.com/doc/' || (doc_id % 10)
       |    AS url_canon FROM documents),
       |r AS (SELECT doc_id, text, url_canon,
       |  row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) AS rn FROM u),
       |s AS (SELECT doc_id, url_canon, text FROM r WHERE rn = 1),
       |t AS (SELECT doc_id, url_canon, md5(text) AS main_md5,
       |  len(string_split(text,' ')) AS n_words,
       |  CAST(len(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |    / len(string_split(text,' ')) AS avg_wlen,
       |  CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |    / len(string_split(text,' ')) AS stop_ratio
       | FROM s)
       |SELECT doc_id, url_canon, main_md5,
       | CAST(n_words BETWEEN 25 AND 80 AND avg_wlen >= 4.3 AND avg_wlen <= 4.7
       |   AND stop_ratio >= 0.02 AS INT) AS keep
       |FROM t""".stripMargin

  /** Cluster-balanced diversity subsample
    * ([[graft.ann.ClusterSample]], SemDeDup/SSL-prototypes class): train
    * the usual IVF k-means model, assign every embedding to its nearest
    * centroid, keep ≤ 5 per cluster in the deterministic keyHash order.
    * The centroid table is engine-internal, so the gate checkpoints the
    * (vec_id, cluster) assignment relation and the oracle replays the
    * SQL-expressible downstream — the same per-group window the host cap
    * gates use. */
  def qClusterSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.ann.{ClusterSample, IvfIndex}
    val emb = table(spark, dir, "embeddings")
    val model = IvfIndex.train(emb, "embedding", nlist = 16, seed = 7)
    val assigned = writeOracleAux(
      ClusterSample.withCluster(emb, "embedding", model)
        .select(col("vec_id"), col("cluster")), dir, "cluster_assign")
    graft.text.HostCurate.capPerHost(assigned, "cluster", "vec_id", k = 5)
      .select(col("vec_id"), col("cluster"),
        col("host_rank").as("cluster_rank"))
  }

  val qClusterSampleSql: String =
    s"""SELECT vec_id, cluster, cluster_rank FROM (
       | SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster
       |   ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS cluster_rank
       | FROM ${auxSql("cluster_assign")})
       |WHERE cluster_rank <= 5""".stripMargin

  /** URL canonicalization + URL dedup ([[graft.text.UrlCurate]]): every
    * document gets a deliberately messy URL spelling (case, `www.`,
    * default port, tracking params, param order, trailing slash,
    * fragment — alternating between two spellings of the same page), the
    * engine canonicalizes and keeps the min-id row per canonical URL, and
    * the oracle derives the expected canonical string INDEPENDENTLY from
    * the clean construction — so the whole rewrite chain is pinned
    * end-to-end, not just the dedup. */
  def qUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.UrlCurate
    // the (path, a, b) triple is determined by doc_id % 10, so every
    // canonical key collides across many rows — the dedup stage is
    // genuinely exercised, not just the rewrite
    val k = col("doc_id") % 10
    val a = (col("doc_id") % 5).cast("string")
    val b = (col("doc_id") % 2).cast("string")
    val messy = table(spark, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443/docs/"),
          k.cast("string"), lit("/?utm_source=feed&b="), b, lit("&a="), a, lit("#frag")))
      .otherwise(
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          k.cast("string"), lit("?a="), a, lit("&b="), b,
          lit("&gclid=g"), col("doc_id").cast("string"))).as("url"))
    UrlCurate.dedupByUrl(messy, "url", "doc_id")
      .select(col("doc_id"), col("url_canon"))
  }

  /** WARC ingestion round-trip ([[graft.sources.WarcSource]]): the
    * documents table is written as gzipped WARC response records (each
    * wrapping a real HTTP envelope), read back through the streaming
    * record parser, and the gate ships every response's uri-derived id,
    * HTTP status, media type, and body hash — the oracle derives from
    * the table, never the files, so framing, the HTTP split, and UTF-8
    * body fidelity are all pinned (same contract as q_jsonl). */
  def qWarc(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.WarcSource
    val path = workDir("graft_warc", dir)
    val recs = table(spark, dir, "documents").select(
      concat(lit("https://"), col("source"), lit(".example.com/doc/"),
        col("doc_id").cast("string")).as("target_uri"),
      lit("2026-01-01T00:00:00Z").as("warc_date"),
      lit(200).as("http_status"),
      lit("text/plain; charset=utf-8").as("http_content_type"),
      col("text").cast("binary").as("body"))
    WarcSource.write(recs, path)
    WarcSource.read(spark, path).toDF()
      .where(col("record_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("http_status"),
        substring_index(col("http_content_type"), ";", 1).as("mime"),
        md5(col("body")).as("body_md5"))
  }

  val qWarcSql: String =
    """SELECT doc_id, 200 AS http_status, 'text/plain' AS mime,
      | md5(text) AS body_md5 FROM documents""".stripMargin

  /** Crawl-ingestion end-to-end: the whole web front door in one gate —
    * documents wrapped as HTML pages, shipped as gzipped WARC response
    * records ([[graft.sources.WarcSource]]), read back through the
    * streaming parser, URL-canonicalized + deduped
    * ([[graft.text.UrlCurate]], messy spellings colliding by
    * construction), and the surviving pages stripped to text
    * ([[graft.functions.StripHtml]]). The oracle re-derives every stage
    * from the documents table: the clean canonical construction, the
    * single-window dedup, and the pinned HtmlStrip SQL replay — so WARC
    * framing, the HTTP split, canonicalization, survivor selection, and
    * byte-exact text extraction are gated as ONE composed pipeline. */
  def qCrawlE2e(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.WarcSource
    import graft.text.UrlCurate
    val path = workDir("graft_crawl", dir)
    val k = (col("doc_id") % 10).cast("string")
    val gid = concat(lit("gclid=g"), col("doc_id").cast("string"))
    val uri = when(col("doc_id") % 2 === 0,
        concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM:443/doc/"), k, lit("/?utm_source=feed&"), gid,
          lit("#frag")))
      .otherwise(concat(lit("https://"), col("source"),
        lit(".example.com/doc/"), k, lit("?"), gid))
    val html = concat(
      lit("<html><head><title>t</title></head><body><h1>Post</h1>\n<p>"),
      col("text"), lit(" &amp; tail</p></body></html>"))
    val recs = table(spark, dir, "documents").select(
      uri.as("target_uri"), lit("2026-01-01T00:00:00Z").as("warc_date"),
      lit(200).as("http_status"),
      lit("text/html; charset=utf-8").as("http_content_type"),
      html.cast("binary").as("body"))
    WarcSource.write(recs, path)
    val pages = WarcSource.read(spark, path).toDF()
      .where(col("record_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "gclid=g(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("target_uri").as("url"), col("body").cast("string").as("html"))
    UrlCurate.dedupByUrl(pages, "url", "doc_id")
      .select(col("doc_id"), col("url_canon"),
        strip_html(col("html")).as("stripped"))
  }

  val qCrawlE2eSql: String = {
    val wrap = "('<html><head><title>t</title></head><body><h1>Post</h1>' " +
      "|| chr(10) || '<p>' || text || ' &amp; tail</p></body></html>')"
    s"""WITH u AS (SELECT doc_id, text,
       |  'https://' || lower(source) || '.example.com/doc/' || (doc_id % 10)
       |    AS url_canon FROM documents),
       |r AS (SELECT doc_id, text, url_canon,
       |  row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) AS rn FROM u)
       |SELECT doc_id, url_canon,
       | ${graft.functions.HtmlStrip.sql(wrap)} AS stripped
       |FROM r WHERE rn = 1""".stripMargin
  }

  val qUrlDedupSql: String =
    """WITH u AS (SELECT doc_id,
      |  'https://' || lower(source) || '.example.com/docs/' || (doc_id % 10)
      |    || '?a=' || (doc_id % 5) || '&b=' || (doc_id % 2) AS url_canon
      |  FROM documents),
      |r AS (SELECT doc_id, url_canon,
      |  row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) AS rn FROM u)
      |SELECT doc_id, url_canon FROM r WHERE rn = 1""".stripMargin

  /** Host-level PageRank ([[graft.graph.LinkGraph.pageRank]]) over a
    * deterministic synthetic link graph: every document emits two
    * out-links from its source host to arithmetically-derived target
    * hosts, the page links collapse to the weighted host graph, and three
    * exact fixed-point integer iterations run on both engines — every
    * rank is a long in 1e-6 units, every division integer, every sum
    * order-independent, so the DuckDB oracle (same iterations unrolled as
    * CTEs) hashes bit-identically. No rounding, no epsilon. */
  def qHostRank(spark: SparkSession, dir: String): DataFrame = {
    import graft.graph.LinkGraph
    val d = table(spark, dir, "documents")
    def dst(mul: Int, add: Int) =
      concat(lit("src"), ((col("doc_id") * mul + add) % 20).cast("string"))
    val links = d.select(col("source").as("src"), dst(7, 1).as("dst"))
      .unionByName(d.select(col("source").as("src"), dst(13, 5).as("dst")))
    val edges = LinkGraph.hostGraph(links, "src", "dst")
    val nodes = d.select(col("source").as("host")).distinct()
    LinkGraph.pageRank(nodes, "host", edges, iterations = 3)
      .select(col("host"), col("rank").as("rank_micro"))
  }

  val qHostRankSql: String = {
    // one unrolled iteration: rank_{i} -> contributions -> rank_{i+1};
    // // is DuckDB integer division (floor == truncate here: all values
    // are non-negative); sums are CAST to BIGINT because DuckDB sums
    // BIGINT into HUGEINT, which pandas would render as float64
    def iter(prev: String, cur: String): String =
      s"""c$cur AS (SELECT e.dst AS host,
         |  CAST(sum((r.rank * e.w) // e.ow) AS BIGINT) AS cin
         |  FROM edges e JOIN $prev r ON r.host = e.src GROUP BY 1),
         |$cur AS (SELECT n.host,
         |  150000 + (85 * coalesce(c.cin, CAST(0 AS BIGINT))) // 100 AS rank
         |  FROM nodes n LEFT JOIN c$cur c ON c.host = n.host)""".stripMargin
    s"""WITH links AS (
       |  SELECT source AS src, 'src' || ((doc_id*7+1) % 20) AS dst
       |    FROM documents
       |  UNION ALL
       |  SELECT source AS src, 'src' || ((doc_id*13+5) % 20) AS dst
       |    FROM documents),
       |edges0 AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM links WHERE src <> dst GROUP BY 1, 2),
       |edges AS (SELECT src, dst, w,
       |  CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS ow FROM edges0),
       |nodes AS (SELECT DISTINCT source AS host FROM documents),
       |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT host, rank AS rank_micro FROM r3""".stripMargin
  }

  /** Bucketed static range join ([[graft.operators.RangeJoin]]): orders
    * keys become lookup points, documents become a mixed-length interval
    * table (mostly short, some medium, a few domain-spanning wide-lane
    * outliers, plus inverted rows that must drop) — the IP→ASN lookup
    * shape. The engine runs the two-lane bucket+broadcast join; the oracle
    * is the plain BETWEEN join, all-integer, hash-exact. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    val ivs = table(spark, dir, "documents").select(
      col("doc_id").as("iid"),
      ((col("doc_id") * 2654435761L) % 100000L).as("lo"),
      when(col("doc_id") % 31 === 0, lit(-5L))
        .when(col("doc_id") % 97 === 0, lit(16000L))
        .when(col("doc_id") % 10 === 9, lit(500L))
        .otherwise(col("doc_id") % 7 + 1).as("len"))
      .select(col("iid"), col("lo"), (col("lo") + col("len")).as("hi"))
    val pts = table(spark, dir, "orders").select(
      col("o_orderkey").as("pid"),
      ((col("o_orderkey") * 40503L) % 100000L).as("v"))
    // explicit width: short intervals stay in one bucket, the 500-long
    // class replicates into 2-3 (the bucket lane genuinely fans out), the
    // 16000-long outliers span >= 32 buckets and take the broadcast lane
    RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi",
        bucketWidth = Some(256L))
      .select(col("pid"), col("v"), col("r_iid"), col("r_lo"), col("r_hi"))
  }

  val qRangeJoinSql: String =
    """WITH ivs0 AS (SELECT doc_id AS iid,
      |  (doc_id * 2654435761) % 100000 AS lo,
      |  CASE WHEN doc_id % 31 = 0 THEN -5
      |       WHEN doc_id % 97 = 0 THEN 16000
      |       WHEN doc_id % 10 = 9 THEN 500
      |       ELSE doc_id % 7 + 1 END AS len
      |  FROM documents),
      |ivs AS (SELECT iid, lo, lo + len AS hi FROM ivs0 WHERE len >= 0),
      |pts AS (SELECT o_orderkey AS pid, (o_orderkey * 40503) % 100000 AS v
      |  FROM orders)
      |SELECT p.pid, p.v, i.iid AS r_iid, i.lo AS r_lo, i.hi AS r_hi
      |FROM pts p JOIN ivs i ON p.v BETWEEN i.lo AND i.hi""".stripMargin

  /** Interval-overlap join ([[graft.operators.RangeJoin.intervalOverlap]]):
    * orders keys become short reservations, documents the mixed-length
    * interval table from q_range_join — both-side bucket replication with
    * reference-point dedup plus the two broadcast wide lanes, against the
    * plain overlap-join oracle. All-integer, hash-exact. */
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    val a = table(spark, dir, "orders").select(
      col("o_orderkey").as("aid"),
      ((col("o_orderkey") * 40503L) % 100000L).as("lo"))
      .select(col("aid"), col("lo"),
        (col("lo") + col("aid") % 50 + 1).as("hi"))
    val b = table(spark, dir, "documents").select(
      col("doc_id").as("iid"),
      ((col("doc_id") * 2654435761L) % 100000L).as("lo2"),
      when(col("doc_id") % 31 === 0, lit(-5L))
        .when(col("doc_id") % 97 === 0, lit(16000L))
        .when(col("doc_id") % 10 === 9, lit(500L))
        .otherwise(col("doc_id") % 7 + 1).as("len"))
      .select(col("iid"), col("lo2"), (col("lo2") + col("len")).as("hi2"))
    RangeJoin.intervalOverlap(a, "lo", "hi", b, "lo2", "hi2",
        bucketWidth = Some(256L))
      .select(col("aid"), col("lo"), col("hi"),
        col("r_iid"), col("r_lo2"), col("r_hi2"))
  }

  val qIntervalJoinSql: String =
    """WITH a AS (SELECT o_orderkey AS aid,
      |  (o_orderkey * 40503) % 100000 AS lo FROM orders),
      |a2 AS (SELECT aid, lo, lo + aid % 50 + 1 AS hi FROM a),
      |b0 AS (SELECT doc_id AS iid,
      |  (doc_id * 2654435761) % 100000 AS lo2,
      |  CASE WHEN doc_id % 31 = 0 THEN -5
      |       WHEN doc_id % 97 = 0 THEN 16000
      |       WHEN doc_id % 10 = 9 THEN 500
      |       ELSE doc_id % 7 + 1 END AS len
      |  FROM documents),
      |b AS (SELECT iid, lo2, lo2 + len AS hi2 FROM b0 WHERE len >= 0)
      |SELECT a2.aid, a2.lo, a2.hi, b.iid AS r_iid,
      |  b.lo2 AS r_lo2, b.hi2 AS r_hi2
      |FROM a2 JOIN b
      |ON greatest(a2.lo, b.lo2) <= least(a2.hi, b.hi2)""".stripMargin

  /** Anchor-text aggregation ([[graft.graph.LinkGraph.anchorText]]): the
    * same synthetic link list carries an anchor string per link; the gate
    * ships per-target in-link counts, distinct-anchor counts, and the
    * sorted space-joined anchor surrogate — deterministic text, fully
    * hashed. */
  def qAnchorText(spark: SparkSession, dir: String): DataFrame = {
    import graft.graph.LinkGraph
    val d = table(spark, dir, "documents")
    val links = d.select(
      concat(lit("src"), ((col("doc_id") * 7 + 1) % 20).cast("string"))
        .as("dst"),
      concat(lit("doc "), (col("doc_id") % 50).cast("string")).as("anchor"))
    LinkGraph.anchorText(links, "dst", "anchor")
  }

  val qAnchorTextSql: String =
    """WITH links AS (SELECT 'src' || ((doc_id*7+1) % 20) AS dst,
      |  'doc ' || (doc_id % 50) AS anchor FROM documents),
      |a1 AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_links
      |  FROM links GROUP BY 1),
      |d AS (SELECT DISTINCT dst, anchor FROM links),
      |a2 AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_anchors,
      |  string_agg(anchor, ' ' ORDER BY anchor) AS anchor_text
      |  FROM d GROUP BY 1)
      |SELECT a1.dst, a1.n_links, a2.n_anchors, a2.anchor_text
      |FROM a1 JOIN a2 ON a1.dst = a2.dst""".stripMargin

  /** Zone-map clustered store of `events`, written once per input dir
    * (same once-write discipline as the q_containment_multi spatial store:
    * the gates time the PRUNED READ, not the layout write). */
  private def zoneMapStore(spark: SparkSession, dir: String, sub: String,
                           cols: Seq[String], hilbertPair: Boolean): String = {
    import graft.sources.ZoneMap
    val path =
      s"${workDir("graft_zonemap", dir)}/$sub"
    if (!new java.io.File(s"$path/_zonemap/_SUCCESS").exists())
      ZoneMap.writeClustered(eventsTable(spark, dir), path, cols,
        numFiles = 16, hilbertPair = hilbertPair)
    path
  }

  /** Range query through [[graft.sources.ZoneMap]] file pruning (the
    * Iceberg/Delta file-skipping class): events range-clustered on user_id,
    * a 10%-of-keys range answered touching only intersecting files. The
    * result is bit-identical to the plain filter, so the oracle is the
    * straight SQL — pruning effectiveness is spec-pinned (ZoneMapSpec). */
  def qLayoutPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ZoneMap, ZoneMap.ZoneRange
    val path = zoneMapStore(spark, dir, "range", Seq("user_id"), hilbertPair = false)
    ZoneMap.readPruned(spark, path, Seq(ZoneRange("user_id", 30L, 44L)))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  val qLayoutPruneSql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE user_id BETWEEN 30 AND 44""".stripMargin

  /** Incremental clustered ingest ([[graft.sources.ZoneMap.appendClustered]]):
    * the store is built as an initial write plus two appends (each batch
    * clustered independently, manifest rows appended per batch), then the
    * same pruned range read as q_layout_prune runs across all three — the
    * result must equal the one-shot layout's, so the oracle is shared.
    * Rebuilt (wiped) per invocation: the append path IS the operator. */
  def qLayoutAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ZoneMap, ZoneMap.ZoneRange
    val path =
      s"${workDir("graft_zonemap", dir)}/append"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val ev = eventsTable(spark, dir)
    ZoneMap.writeClustered(ev.where(pmod(col("user_id"), lit(3)) === 0),
      path, Seq("user_id"), numFiles = 6)
    ZoneMap.appendClustered(ev.where(pmod(col("user_id"), lit(3)) === 1),
      path, Seq("user_id"), numFiles = 6)
    ZoneMap.appendClustered(ev.where(pmod(col("user_id"), lit(3)) === 2),
      path, Seq("user_id"), numFiles = 6)
    ZoneMap.readPruned(spark, path, Seq(ZoneRange("user_id", 30L, 44L)))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  val qLayoutAppendSql: String = qLayoutPruneSql

  /** 2-D variant: Hilbert-pair clustering on (user_id, value) so BOTH
    * dimensions carry file-pruning power — the attribute-space analogue of
    * the spatial hc partitioner. */
  def qLayoutPrune2d(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ZoneMap, ZoneMap.ZoneRange
    val path = zoneMapStore(spark, dir, "hilbert", Seq("user_id", "value"),
      hilbertPair = true)
    ZoneMap.readPruned(spark, path,
        Seq(ZoneRange("user_id", 20L, 70L), ZoneRange("value", 50.0, 150.0)))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  val qLayoutPrune2dSql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE user_id BETWEEN 20 AND 70 AND value BETWEEN 50.0 AND 150.0""".stripMargin

  /** Streaming vector-index maintenance ([[graft.streaming.AnnIngest]]):
    * three refresh batches append to the frozen-codebook IVF store (the
    * gate runs the batch twin; stream==batch is spec-pinned), then the
    * probe path answers top-k over the ACCUMULATED store through literal
    * partition pruning. Same checkpoint-the-assignments oracle pattern as
    * q_ann_ivf — the store's (nid, list) relation and the probe sets are
    * the checkpointed bits; everything downstream re-derives in SQL. The
    * store is rebuilt per invocation (wiped first): the INGEST is the
    * operator, and three sf-sized appends are the honest cost. */
  def qAnnIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.AnnIngest
    val emb = table(spark, dir, "embeddings")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val model = graft.ann.IvfIndex.train(items, "ivec", nlist = 16)
    val store = workDir("graft_ann_ingest", dir)
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    (0 until 3).foreach { b =>
      AnnIngest.processBatch(items.where(pmod(col("nid"), lit(3)) === b),
        "nid", "ivec", model, store)
    }
    val stored = AnnIngest.loadStore(spark, store, "nid", "ivec")
    // the probes aux checkpoint IS probeLists — reuse the parquet-backed
    // round-trip for the search instead of recomputing the per-query
    // centroid ranking (same (qid, list) rows: exact integer columns)
    val (_, probesAux) = writeOracleAuxPar(dir,
      (stored.select(col("nid"), col("list")), "ann_ingest_assign"),
      (graft.ann.IvfIndex.probeLists(queries, "qid", "qvec", model, nprobe = 4),
        "ann_ingest_probes"))
    AnnIngest.topKFromStore(spark, store, "nid", "ivec",
        queries, "qid", "qvec", k = 5, model, nprobe = 4,
        precomputedProbes = Some(probesAux))
      .select(col("qid"), col("nid"), col("rank").as("rk"))
  }

  val qAnnIngestSql: String = qAnnIvfSql.replace("ann_ivf_", "ann_ingest_")

  /** Leakage-safe train/valid/test split
    * ([[graft.text.CorpusSplit.assignSplitsByCluster]]): near-dup clusters
    * (n-gram Jaccard pairs → connected components) are split as UNITS, so a
    * test doc's 0.9-Jaccard twin can never train. Oracle = the
    * q_dedup_cluster recursive-CTE components + the exact integer split
    * CASE on the component label. */
  def qSplitLeakfree(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val edges = graft.dedup.TextDedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.5)
    graft.text.CorpusSplit.assignSplitsByCluster(docs, "doc_id",
        edges, "ida", "idb",
        Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("split"))
  }

  val qSplitLeakfreeSql: String = {
    val splitCase = graft.text.CorpusSplit.assignSplitsSql("comp",
      Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)))
    s"SELECT doc_id, $splitCase AS split FROM ($qDedupClusterSql) c"
  }

  /** Snapshot-over-snapshot corpus delta ([[graft.text.CorpusDiff]]): a
    * mutated twin of `documents` (removals, edits, additions — all
    * deterministic arithmetic both engines replay) diffed against the
    * original by content md5. The full-outer status join is the whole
    * operator; the oracle is the same join comparing the texts
    * directly (md5-equal ⟺ text-equal). */
  def qCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.CorpusDiff
    val docs = table(spark, dir, "documents")
    val old = docs.select(col("doc_id"), col("text"))
    val nw = old.where(col("doc_id") % 17 =!= 5)
      .withColumn("text", when(col("doc_id") % 13 === 2,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(old.where(col("doc_id") % 23 === 7)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    CorpusDiff.diff(old, nw, "doc_id", "text")
  }

  /** Retrieval-quality evaluation ([[graft.ann.RetrievalEval.perQuery]]):
    * brute-force cosine top-10 over the embeddings table evaluated against
    * label-match relevance judgments. The results relation is checkpointed
    * (the q_ann_* discipline); metrics downstream are exact-integer counts
    * plus SINGLE divisions of exact ints (recall@k, reciprocal rank) —
    * both engines produce identical IEEE doubles. */
  def qRetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val items = emb.select(col("vec_id").as("nid"), col("embedding").as("ivec"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val res = writeOracleAux(
      graft.ann.Similarity.topKBrute(items, "nid", "ivec",
          queries, "qid", "qvec", k = 10)
        .select(col("qid"), col("nid"), col("rank").as("rk")),
      dir, "reval_results")
    val truth = emb.as("q").where(col("q.vec_id") % 50 === 0)
      .join(emb.as("b"),
        col("q.label") === col("b.label") && col("q.vec_id") =!= col("b.vec_id"))
      .select(col("q.vec_id").as("qid"), col("b.vec_id").as("nid"))
    graft.ann.RetrievalEval.perQuery(res, truth, "qid", "nid", "rk")
  }

  /** Hard-negative mining ([[graft.ann.HardNegatives]]): top-5 hardest
    * negatives (most-similar cross-LABEL neighbors) per embedding, mined
    * over probed IVF lists. The label-blind FP candidate relation is
    * checkpointed ([[writeOracleAux]]); the oracle replays the operator's
    * whole relational tail — the label-mismatch filter and the per-anchor
    * (similarity desc, id asc) window — and the shipped score is
    * floor(sim·1e6), the established bit-deterministic IEEE downstream.
    * Exactness of the mining itself (single-list == brute, full-probe ==
    * brute, null lanes) is spec-pinned in HardNegativesSpec. */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.ann.{HardNegatives, IvfIndex}
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    // bounded list SIZE, not list count: with every corpus vector as an
    // anchor, a fixed nlist makes the candidate join |N| x nprobe x |N|/nlist
    // — quadratic (measured 49.5x wall for 10x data at sf1). nlist =
    // ceil(N/256) caps each inverted list at ~256, so candidates stay
    // ~N x nprobe x 256 — linear. At sf0.1 (2,000 embeddings) this is the
    // identical nlist=8 the gate always ran.
    val nlist = math.max(1,
      math.ceil(emb.count() / 256.0).toInt)
    val model = IvfIndex.train(emb, "embedding", nlist = nlist)
    val aux = writeOracleAux(
      HardNegatives.candidates(emb, "vec_id", "embedding", "label",
        model, nprobe = 3),
      dir, "hardneg_cand")
    HardNegatives.fromCandidates(aux, k = 5)
      .select(col("qid"), col("rank"), col("nid"),
        floor(col("similarity") * 1e6).as("score_micro"))
  }

  val qHardNegativesSql: String =
    s"""WITH c AS (SELECT * FROM ${auxSql("hardneg_cand")}),
       |r AS (SELECT qid, nid, similarity,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY similarity DESC, nid ASC) AS rank
       |  FROM c WHERE qlabel <> nlabel)
       |SELECT qid, rank, nid,
       |  CAST(floor(similarity * 1e6) AS BIGINT) AS score_micro
       |FROM r WHERE rank <= 5""".stripMargin

  val qRetrievalEvalSql: String =
    s"""WITH res AS (SELECT qid, nid, rk FROM ${auxSql("reval_results")}),
       |truth AS (SELECT q.vec_id AS qid, b.vec_id AS nid
       |  FROM embeddings q JOIN embeddings b
       |    ON q.label = b.label AND q.vec_id <> b.vec_id
       |  WHERE q.vec_id % 50 = 0),
       |j AS (SELECT qid, CAST(count(*) AS BIGINT) AS judged FROM truth GROUP BY 1),
       |h AS (SELECT res.qid, CAST(count(*) AS BIGINT) AS hits, min(rk) AS fr
       |  FROM res JOIN truth USING (qid, nid) GROUP BY 1)
       |SELECT j.qid, coalesce(h.hits, 0) AS hits, j.judged,
       |  CAST(coalesce(h.hits, 0) AS DOUBLE) / j.judged AS recall_at_k,
       |  coalesce(CAST(1 AS DOUBLE) / fr, CAST(0 AS DOUBLE)) AS rr
       |FROM j LEFT JOIN h ON j.qid = h.qid""".stripMargin

  /** Luhn-verified payment-card detection
    * ([[graft.text.TextFunctions.ccCount]]/redactCc): deterministic card
    * strings (one Luhn-valid, one checksum-failing) injected into
    * `documents`, counted with the checksum filter and conservatively
    * redacted. The Luhn arithmetic is built-in HOFs on both engines —
    * `aggregate`/`sequence` in Spark, `list_sum`/`list_transform` in
    * DuckDB — digit-for-digit identical. */
  def qCcDetect(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions
    val docs = table(spark, dir, "documents")
    val txt = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        lit(" card 4111-1111-1111-1111 ok")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        lit(" ref 4111 1111 1111 1112 x")).otherwise(lit("")))
    docs.select(col("doc_id"),
      TextFunctions.ccCount(txt).as("cc_cnt"),
      md5(TextFunctions.redactCc(txt)).as("redacted_md5"))
  }

  val qCcDetectSql: String = {
    val pat = """\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b"""
    val dg = "regexp_replace(s, '[- ]', '', 'g')"
    val digit = s"(ascii(substr($dg, i, 1)) - 48)"
    s"""WITH t AS (SELECT doc_id, text ||
       |  CASE WHEN doc_id % 7 = 0 THEN ' card 4111-1111-1111-1111 ok' ELSE '' END ||
       |  CASE WHEN doc_id % 11 = 0 THEN ' ref 4111 1111 1111 1112 x' ELSE '' END AS txt
       | FROM documents)
       |SELECT doc_id,
       | CAST(len(list_filter(regexp_extract_all(txt, '$pat'),
       |  s -> (list_sum(list_transform(generate_series(1, len($dg)),
       |    i -> CASE WHEN (len($dg) - i) % 2 = 1
       |         THEN CASE WHEN $digit * 2 > 9
       |              THEN $digit * 2 - 9 ELSE $digit * 2 END
       |         ELSE $digit END)) % 10 = 0))) AS INT) AS cc_cnt,
       | md5(regexp_replace(txt, '$pat', '<CARD>', 'g')) AS redacted_md5
       |FROM t""".stripMargin
  }

  /** robots.txt politeness filter ([[graft.text.Robots]]): every host
    * (documents.source) gets a deterministic robots.txt from one of four
    * classes — plain `*` rules with wildcards, a graftbot-specific record
    * that shadows `*`, a rule-free graftbot record at EOF (explicit
    * allow-all), or no robots at all — and every document becomes a URL
    * exercising a distinct match branch (literal prefix, longer-allow
    * override, mid-pattern `*`, `$` end anchor, query-string escape,
    * case-sensitive path, unmatched). The compiled rule relation is
    * checkpointed ([[writeOracleAux]]); the oracle replays the
    * longest-match/allow-wins resolution as a LIKE-join + window — the
    * rank arithmetic and LIKE patterns are the same bytes on both
    * engines. Parse semantics (RFC 9309 record adjacency, comment strip,
    * group selection) are spec-pinned in RobotsSpec. */
  def qRobots(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Robots
    val docs = table(spark, dir, "documents")
    val base =
      "# corpus robots\nUser-agent: *\nDisallow: /private/\n" +
      "Allow: /private/pub\nDisallow: /*.php$\nDisallow:\nCrawl-delay: 5\n"
    val i = expr("CAST(substring(host, 4) AS INT)")
    val robots = docs.select(col("source").as("host")).distinct()
      .where(i % 4 =!= 3) // every 4th host publishes no robots.txt
      .withColumn("text", when(i % 4 === 1,
          lit("User-agent: GraftBot\nDisallow: /beta/\nAllow: /beta/open/\n" +
            base))
        .when(i % 4 === 2, lit(base + "User-agent: graftbot\n"))
        .otherwise(lit(base)))
    val rules = writeOracleAux(
      Robots.parseRules(robots, "host", "text", "graftbot"),
      dir, "robots_rules")
    val id = col("doc_id").cast("string")
    val path = (col("doc_id") % 8)
    val urls = docs.select(col("doc_id"), col("source").as("host"),
      when(path === 0, concat(lit("/private/doc"), id))
        .when(path === 1, concat(lit("/private/pub/doc"), id))
        .when(path === 2, concat(lit("/page"), id, lit(".php")))
        .when(path === 3, concat(lit("/page"), id, lit(".php?x=1")))
        .when(path === 4, concat(lit("/beta/doc"), id))
        .when(path === 5, concat(lit("/beta/open/doc"), id))
        .when(path === 6, concat(lit("/docs/doc"), id))
        .otherwise(concat(lit("/PRIVATE/doc"), id)).as("path"))
    Robots.annotateAllowed(urls, "host", "path", rules)
      .select(col("doc_id"), col("host"), col("path"), col("robots_allowed"))
  }

  val qRobotsSql: String =
    s"""WITH u AS (SELECT doc_id, source AS host,
       |  CASE doc_id % 8
       |    WHEN 0 THEN '/private/doc' || doc_id
       |    WHEN 1 THEN '/private/pub/doc' || doc_id
       |    WHEN 2 THEN '/page' || doc_id || '.php'
       |    WHEN 3 THEN '/page' || doc_id || '.php?x=1'
       |    WHEN 4 THEN '/beta/doc' || doc_id
       |    WHEN 5 THEN '/beta/open/doc' || doc_id
       |    WHEN 6 THEN '/docs/doc' || doc_id
       |    ELSE '/PRIVATE/doc' || doc_id END AS path
       | FROM documents),
       |m AS (SELECT u.doc_id, u.host, u.path, r.rule,
       |  row_number() OVER (PARTITION BY u.doc_id ORDER BY r.rank DESC) AS rn
       | FROM u LEFT JOIN ${auxSql("robots_rules")} r
       |   ON u.host = r.host AND u.path LIKE r.like_pat ESCAPE '\\')
       |SELECT doc_id, host, path,
       | coalesce(rule = 'allow', true) AS robots_allowed
       |FROM m WHERE rn = 1""".stripMargin

  /** Unigram-LM (SentencePiece class) subword tokenizer, end to end: train
    * a piece vocabulary by integer micro-count EM
    * ([[graft.text.UnigramTrainer]]), then Viterbi-encode every document.
    * The per-word forward-backward/Viterbi kernel is spec-pinned against
    * exhaustive enumeration (UnigramTrainerSpec); the gate oracles
    * everything AROUND it via the checkpoint pattern: the distinct
    * word → token-stream relation the kernel produced is checkpointed, and
    * DuckDB replays pretokenization (same regex), the word join, per-doc
    * reassembly in pretoken order, and token counting over those same
    * bits. Output: doc_id + token-stream md5 + token count. */
  def qUnigram(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions, UnigramTrainer}
    val docs = table(spark, dir, "documents")
    val vocab = UnigramTrainer.train(docs, "text", vocabSize = 400,
      maxPieceLen = 4, emIters = 1)
    val model = UnigramTrainer.modelFromCounts(vocab)
    val pre = docs.select(col("doc_id"),
      posexplode(TextFunctions.bpePretokens(col("text")))
        .as(Seq("widx", "word")))
    // one Viterbi pass shared by the aux checkpoint and the encode join
    // (encode() would re-derive pre AND re-tokenize every distinct word -
    // measured as 2 of this gate's 4 full document scans)
    val toks = UnigramTrainer.wordTokens(pre.select("word"), model)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeOracleAux(
      toks.select(col("word"),
          concat_ws("\u0001", col("toks")).as("stream"),
          size(col("toks")).cast("long").as("n")),
      dir, "unigram_toks")
    val out = UnigramTrainer.assemble(pre, toks, "doc_id")
      .select(col("doc_id"),
        md5(concat_ws("\u0001", col("tokens")).cast("binary")).as("tok_md5"),
        size(col("tokens")).cast("long").as("n_tokens"))
    graft.core.CacheHygiene.unpersistAfterUse(out, Seq(toks))
  }

  val qUnigramSql: String = {
    val pat = graft.text.TextFunctions.BpePretokenPattern.replace("'", "''")
    s"""WITH pt AS (SELECT doc_id, unnest([{'widx': i, 'w': ws[i]}
       |    for i in generate_series(1, len(ws))], recursive := true)
       |  FROM (SELECT doc_id, regexp_extract_all(text, '$pat', 1) ws
       |        FROM documents)),
       |j AS (SELECT p.doc_id, p.widx, t.stream, t.n
       |  FROM pt p JOIN ${auxSql("unigram_toks")} t ON p.w = t.word)
       |SELECT doc_id,
       |  md5(string_agg(stream, chr(1) ORDER BY widx)) AS tok_md5,
       |  CAST(sum(n) AS BIGINT) AS n_tokens
       |FROM j GROUP BY doc_id""".stripMargin
  }

  val qCorpusDiffSql: String =
    """WITH o AS (SELECT doc_id, text FROM documents),
      |nw AS (SELECT doc_id,
      |   CASE WHEN doc_id % 13 = 2 THEN text || ' v2' ELSE text END AS text
      | FROM documents WHERE doc_id % 17 <> 5
      | UNION ALL
      | SELECT doc_id + 100000, text FROM documents WHERE doc_id % 23 = 7)
      |SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id,
      | CASE WHEN o.doc_id IS NULL THEN 'added'
      |      WHEN nw.doc_id IS NULL THEN 'removed'
      |      WHEN o.text = nw.text THEN 'unchanged'
      |      ELSE 'changed' END AS status
      |FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id""".stripMargin
}
