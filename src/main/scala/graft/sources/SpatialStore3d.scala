package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Octree3d
import graft.operators.SpatialJoin3d.Mbb3Cols

/** 3-D spatially partitioned table layout — [[SpatialStore]]'s lifecycle
  * (the reference's `partition` + `containment`,
  * /root/reference/src/framework/query_partition.hpp:77-293,
  * query_containment.hpp:112-139) in three dimensions, over the 3-D data
  * model the reference's `queryproc3d` binaries consume
  * (/root/reference/src/README.md:5-13): six MBB columns per row, no WKB.
  *
  * Tiles are OCTREE LEAVES ([[graft.operators.Octree3d]], the
  * reconstructed `oc` partitioner) planned from a seeded sample of
  * envelope centers, so leaf sizes track data density — a uniform 3-D
  * grid over skewed data leaves most partition dirs empty and the hot
  * ones unsplit. Boundary-spanning objects replicate to every
  * closed-intersecting leaf at write (query_partition.hpp:34-38), carry
  * the same content-hash row-id lanes as the 2-D store, and collapse on
  * read.
  *
  * The layout is the 2-D store's: range-clustered parquet under `data/`
  * plus a per-file (min_tile, max_tile) manifest
  * ([[SpatialStore.writeRangeClustered]]). Containment reads prune twice:
  * the driver walks the broadcast-free leaf table against the window box
  * (the reference's global-index scan) and the manifest keeps only the
  * files whose leaf range holds a wanted leaf; the six-comparison exact
  * refine then runs only over surviving files. At 100 TB the read touches
  * the files of window-intersecting leaves, nothing else.
  */
object SpatialStore3d {

  private val MetaFile = "_graft_meta3d.json"
  val TileCol: String = SpatialStore.TileCol

  final case class Meta(cols: Seq[String], leafBoxes: Array[Array[Double]])

  /** Write `df` partitioned by octree leaf over its six MBB columns.
    * Rows with any null envelope side are dropped (the 2-D store's P3/P4
    * behavior). `leafCap` is the target object count per leaf at full
    * scale; the octree is built over a seeded `sampleTarget` sample with
    * the cap scaled by the sample fraction (the planTiles discipline).
    * Value-identical rows collapse on read unless `preserveDuplicates`
    * (see [[SpatialStore.withRowIds]]).
    *
    * Rows land as PLAIN parquet range-partitioned on the leaf id — one
    * file per TASK covering a contiguous leaf range, so commit renames ∝
    * tasks, not leaves (the retired Hive `tile_id=` dir layout paid one
    * dir + temp + rename per leaf: 7.4× at 10× leaves in the sf1b
    * rehearsal, where this layout measured 1.00×) — then one per-file
    * (min_tile, max_tile) manifest commits from a single column-pruned
    * scan of what was just written (the ZoneMap discipline). Leaf ids are
    * sorted within files, so parquet row-group stats finish the pruning
    * inside each surviving file. At 100 TB: LIST = one manifest read;
    * file count ∝ writer count, not leaf count.
    *
    * The input is read ONCE, as in [[SpatialStore.write]]: the row-id'd
    * rows with complete, finite bounds are copied
    * ([[SpatialStore.readOnce]]), and the envelope-and-count job, the
    * center sample, the leaf tag, the range partitioner's sample and the
    * write's map stage all scan that copy. The copy is released when the
    * write returns or throws (an input with no complete envelope throws
    * after the copy exists). */
  def write(df: DataFrame, c: Mbb3Cols, path: String,
            leafCap: Int = 4096, sampleTarget: Int = 100000,
            maxDepth: Int = 12, seed: Long = 42L,
            preserveDuplicates: Boolean = false): Unit = {
    // on the caller's plan: the copy's plan has no file scan to check
    SpatialStore.refuseSelfOverwrite(df, path, "write")
    val names = Seq(c.xmin, c.ymin, c.zmin, c.xmax, c.ymax, c.zmax)
    val complete = SpatialStore.withRowIds(df, preserveDuplicates)
      .where(names.map(col(_).isNotNull).reduce(_ && _))
      // non-finite bounds drop like incomplete envelopes (a NaN would
      // poison the global min/max envelope and every octree split after)
      .where(names.map { f =>
        !isnan(col(f)) && col(f) > lit(Double.NegativeInfinity) &&
          col(f) < lit(Double.PositiveInfinity)
      }.reduce(_ && _))
    SpatialStore.readOnce(complete) { rows =>
      val (tagged, tree) = leafTagged(rows, names, leafCap, sampleTarget, maxDepth, seed)
      SpatialStore.writeRangeClustered(tagged, path)
      writeMeta(df.sparkSession, path, Meta(names, tree.leafBoxes))
    }
  }

  /** Sampled octree and leaf replication over `rows` — the copied
    * row-id'd rows with complete, finite bounds in the six `names`
    * columns: the planning jobs and the tag scan the copy, so the input is
    * read once. [[write]]'s [[SpatialStore.readOnce]] releases the copy
    * after the tagged rows are written, or when planning throws. */
  private def leafTagged(rows: DataFrame, names: Seq[String], leafCap: Int,
                         sampleTarget: Int, maxDepth: Int, seed: Long)
      : (DataFrame, Octree3d.Tree) = {
    val Seq(cx0, cy0, cz0, cx1, cy1, cz1) = names.map(col)
    // one plain RDD job: global envelope + row count (a DataFrame
    // aggregate adds a SQL execution and an adaptive job per exchange —
    // the SpatialJoin.planTiles idiom). A bound replaces the running one
    // only when strictly beyond it, as SQL min/max do.
    val (space, n) = rows.select(names.map(col): _*).queryExecution.toRdd
      .aggregate((Array.fill(3)(Double.PositiveInfinity) ++
                  Array.fill(3)(Double.NegativeInfinity), 0L))(
        { case ((b, k), r) =>
          for (i <- 0 until 3) {
            if (r.getDouble(i) < b(i)) b(i) = r.getDouble(i)
            if (r.getDouble(i + 3) > b(i + 3)) b(i + 3) = r.getDouble(i + 3)
          }
          (b, k + 1) },
        { case ((a, ka), (b, kb)) =>
          for (i <- 0 until 3) {
            if (b(i) < a(i)) a(i) = b(i)
            if (b(i + 3) > a(i + 3)) a(i + 3) = b(i + 3)
          }
          (a, ka + kb) })
    require(n > 0, s"SpatialStore3d.write: no rows with a complete 3-D envelope")
    val fraction = math.min(1.0, sampleTarget.toDouble / n)
    val centers = {
      val cdf = rows.select(((cx0 + cx1) / 2).as("_x"), ((cy0 + cy1) / 2).as("_y"),
        ((cz0 + cz1) / 2).as("_z"))
      (if (fraction >= 1.0) cdf else cdf.sample(withReplacement = false, fraction, seed))
        .collect().map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    }
    val scaledCap = math.max(1, math.floor(leafCap * fraction).toInt)
    val tree = Octree3d.build(centers, space, scaledCap, maxDepth)
    val bc = rows.sparkSession.sparkContext.broadcast(tree)
    val leaves = udf { (x0: Double, y0: Double, z0: Double,
                        x1: Double, y1: Double, z1: Double) =>
      bc.value.leavesFor(x0, y0, z0, x1, y1, z1)
    }
    (rows.withColumn(TileCol, explode(leaves(cx0, cy0, cz0, cx1, cy1, cz1))), tree)
  }

  /** Containment/window read: driver prunes octree leaves against the
    * window box (closed intersection — the replication test's twin, so a
    * replica on a shared face is never orphaned from its window), the
    * manifest scan ([[SpatialStore.manifestRead]]) reads only the files
    * holding those leaves, the six-comparison exact refine applies, and
    * replicas collapse on the row-id lanes. `window` is six doubles
    * (x0, y0, z0, x1, y1, z1). */
  def containmentRead(spark: SparkSession, path: String,
                      window: Array[Double]): DataFrame = {
    require(window.length == 6, "window must be (x0, y0, z0, x1, y1, z1)")
    val meta = readMeta(spark, path)
    val Seq(x0, y0, z0, x1, y1, z1) = window.toSeq
    val wanted = meta.leafBoxes.iterator.zipWithIndex
      .filter { case (b, _) =>
        b(0) <= x1 && x0 <= b(3) && b(1) <= y1 && y0 <= b(4) &&
          b(2) <= z1 && z0 <= b(5) }
      .map(_._2).toSeq
    val Seq(cx0, cy0, cz0, cx1, cy1, cz1) = meta.cols.map(col)
    SpatialStore.manifestRead(spark, path, wanted)
      .where(col(TileCol).isin(wanted: _*))
      .where(cx0 <= lit(x1) && lit(x0) <= cx1 &&
             cy0 <= lit(y1) && lit(y0) <= cy1 &&
             cz0 <= lit(z1) && lit(z0) <= cz1)
      .dropDuplicates(SpatialStore.RowIdCol, SpatialStore.RowId2Col)
      .drop(SpatialStore.RowIdCol, SpatialStore.RowId2Col, TileCol)
  }

  /** Full-table read with replicas collapsed (shares
    * [[SpatialStore.dataScan]]'s torn-write guard). */
  def read(spark: SparkSession, path: String): DataFrame =
    SpatialStore.dataScan(spark, path)
      .dropDuplicates(SpatialStore.RowIdCol, SpatialStore.RowId2Col)
      .drop(SpatialStore.RowIdCol, SpatialStore.RowId2Col, TileCol)

  // ---- metadata (partition.idx + info.cfg equivalent, 3-D form) ----

  def writeMeta(spark: SparkSession, path: String, meta: Meta): Unit = {
    val leaves = meta.leafBoxes.map(b => b.mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val json =
      s"""{"format_version":${SpatialStore.FormatVersion},"cols":[${meta.cols.map(c => s""""$c"""").mkString(",")}],"leaves":$leaves}"""
    val p = new Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readMeta(spark: SparkSession, path: String): Meta = {
    val p = new Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try new String(
      in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    SpatialStore.checkFormatVersion(json, path)
    val cols = """"cols":\[([^\]]+)\]""".r.findFirstMatchIn(json).get.group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    val leaves = """\[([^\[\]]+)\]""".r
      .findAllMatchIn(json.substring(json.indexOf("\"leaves\":")))
      .map(m => m.group(1).split(",").map(_.toDouble))
      .filter(_.length == 6).toArray
    Meta(cols, leaves)
  }
}
