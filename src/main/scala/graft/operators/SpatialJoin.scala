package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference,
  DirectShufflePartitionID, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, ShufflePartitionIdPassThrough}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{RDDScanExec, SortExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, SpatialJoinNode, SpatialJoinStrategy}
import org.apache.spark.sql.types._
import org.apache.spark.util.random.BernoulliCellSampler
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.index.strtree.{AbstractNode, Boundable, ItemBoundable, STRtree}

import graft.core.{CacheHygiene, Geo, GeometryCodec, GeomPredicates, Mbb, TileBoundary}
import graft.functions.{GeomKernels, st_envelope, withNonNull}
import graft.partition.SpatialPartitioner

/** Tile-partitioned spatial join — the Spark-native re-expression of the
  * reference's whole spjoin pipeline
  * (/root/reference/src/framework/query_spjoin.hpp:70-322):
  *
  *   MBB-extract job      -> one min/max/count aggregate
  *   sample+partition job -> driver-side partitioner over a seeded sample
  *   cache-file tile idx  -> broadcast [[TileIndex]] (padded to cover space)
  *   map-to-tile job      -> explode over broadcast index (1 row -> N tiles)
  *   RESQUE reducer       -> one refine slot (one tile, or shard of a hot
  *                           tile, per task; heaviest first): STRtree
  *                           filter + exact refine ([[slotCogroup]])
  *   sort+uniq dedup job  -> reference-point emit (no extra shuffle)
  *
  * [[join]] builds a logical node that
  * [[org.apache.spark.sql.graft.SpatialJoinExec]] runs, the operator SQL
  * spatial joins plan into too: all stages live in the caller's one SQL
  * execution, and the only materialization barriers are the stats
  * aggregate and the sample collect (the adaptive step the reference also
  * performs, with a forced single reducer, queryprocessor_2d.cpp:286-293);
  * they and the refine stage read one persisted copy of each side.
  */
object SpatialJoin {

  /** @param predicate  one of intersects|touches|crosses|contains|within|
    *                    overlaps|equals|disjoint|adjacent|dwithin
    *                    (disjoint keeps the reference's tile-local,
    *                    candidate-restricted semantics — spjoin_2d.hpp:159-161)
    * @param distance   expansion for dwithin (spjoin_2d.hpp:61-66)
    * @param partitioner fg|bsp|qt|str|hc|slc|bos
    * @param bucket     target objects per tile; <=0 = auto
    * @param sampleTarget max MBBs collected to the driver for partitioning
    * @param dedup      refpoint|none (refpoint is exact for every
    *                   partitioner because the tile index covers the space;
    *                   none emits a pair once per tile both sides share)
    * @param keepTile   append an IntegerType `tile_id` column carrying the
    *                   tile that emitted each pair (the reference's `tileid`
    *                   projection field, resque_2d.cpp:448). With the
    *                   default refpoint dedup this is the pair's owning
    *                   tile. The untiled st_equals plan emits -1 (it has no
    *                   tiles by design).
    * @param earth      dwithin only: spherical meters via the reference's
    *                   haversine constants. Requires Point geometries on
    *                   BOTH sides — non-points throw rather than silently
    *                   comparing planar degree-unit distances against the
    *                   meter threshold (the reference's behavior,
    *                   spjoin_2d.hpp:185-205). The probe envelope expands
    *                   by the conservative DEGREE equivalent of `distance`
    *                   (per-row, latitude-aware — see withEnvEarthMeters),
    *                   NOT by meters-as-degrees like the reference, whose
    *                   expansion makes every probe cover the planet and
    *                   the join all-pairs; the exact haversine refine is
    *                   unchanged, so results are identical. */
  final case class Config(
      predicate: String = "intersects",
      distance: Double = 0.0,
      partitioner: String = "fg",
      bucket: Int = 0,
      sampleTarget: Int = 100000,
      dedup: String = "refpoint",
      knnBroadcastThreshold: Int = 10000,
      earth: Boolean = false,
      twoLevel: Boolean = false,
      hotTileFactor: Int = 8,
      keepTile: Boolean = false,
      // max capped probe candidates the kNN probe phase will collect and
      // broadcast as driver maps (the exchange-free probe); past this the
      // relational WindowGroupLimit probe runs. Lowered only in specs to
      // force the relational branch at test scale.
      probeCollectMax: Long = 1000000L)

  private val Tile = "__tile"
  private val Slot = "__slot"
  private val X1 = "__xmin"; private val Y1 = "__ymin"
  private val X2 = "__xmax"; private val Y2 = "__ymax"
  private val Rad = "__rad"
  /** Tiles per core of the auto bucket, and the most refine keys per core
    * that still run one task each ([[slotCogroup]]): enough tasks to
    * balance uneven tiles without paying a task per tiny tile. */
  private val TasksPerCore = 4
  /** Seed of the tile-planning sample: the same inputs plan the same tiles. */
  private val SampleSeed = 42L

  /** Adds envelope columns derived from the WKB geometry column `geom`;
    * drops rows with null/unparseable geometry (reference P3/P4 behavior).
    * Non-finite and empty envelopes are ALSO null here: the check lives
    * inside the st_envelope kernel (GeomKernels.envelope), where the four
    * doubles are already in hand — a relational isnan/Inf filter on these
    * columns measured 2.2x on every join gate (pushdown substitutes the
    * st_envelope alias into each condition, re-parsing the WKB per
    * condition). For the same reason the null drop is a generator
    * ([[graft.functions.withNonNull]]): a `__env IS NOT NULL` filter was
    * pushed below the projection as `isnotnull(st_envelope(geom))`, and
    * through a text source's projection as a second WKT parse. */
  private def withEnv(df: DataFrame, geom: String, expand: Double): DataFrame = {
    val d = lit(expand)
    withNonNull(df, "__env", st_envelope(col(geom)))
      .withColumn(X1, col("__env.xmin") - d)
      .withColumn(Y1, col("__env.ymin") - d)
      .withColumn(X2, col("__env.xmax") + d)
      .withColumn(Y2, col("__env.ymax") + d)
      .drop("__env")
  }

  /** Earth-mode probe expansion (round-17): the reference expands the
    * probe MBB by `distance` in COORDINATE UNITS even when the distance is
    * in meters (earth mode) — 50 km becomes 50,000 DEGREES, every probe
    * envelope covers the whole space, and the tiled join degenerates to an
    * all-pairs haversine scan (measured at sf0.1: 20.6 s of refine CPU to
    * emit 30 surviving pairs; at 100 TB it is a cross join). The exact
    * haversine refine decides membership, so tightening the candidate
    * window cannot change results — this variant expands by the provably
    * conservative degree bounds instead ([[graft.core.Geo.latDegrees]] /
    * [[Geo.lonDegrees]]'s formula as per-row codegen'd columns: the
    * longitude window widens with the envelope's worst-case |latitude|,
    * degenerating to the full 360° near the poles, where candidate
    * windows legitimately wrap). A window that crosses ±180° covers
    * every longitude, so pairs across the antimeridian stay candidates. */
  private def withEnvEarthMeters(df: DataFrame, geom: String,
                                 meters: Double): DataFrame = {
    val dLat = Geo.latDegrees(meters)
    withNonNull(df, "__env", st_envelope(col(geom)))
      .withColumn("__phimax",
        greatest(abs(col("__env.ymin")), abs(col("__env.ymax"))) + lit(dLat))
      .withColumn("__s", sin(lit(meters / (2.0 * Geo.EarthRadiusMeters))) /
        cos(radians(col("__phimax"))))
      .withColumn("__dlon",
        when(col("__phimax") >= 89.9 || col("__s") >= 1.0, lit(360.0))
          .otherwise(least(lit(360.0),
            degrees(asin(col("__s"))) * lit(2.0 * Geo.BoundSafety))))
      .withColumn(X1, col("__env.xmin") - col("__dlon"))
      .withColumn(Y1, col("__env.ymin") - lit(dLat))
      .withColumn(X2, col("__env.xmax") + col("__dlon"))
      .withColumn(Y2, col("__env.ymax") + lit(dLat))
      // a window past ±180° wraps onto the other side of the antimeridian:
      // widen it to every longitude
      .withColumn("__wrap", col(X1) < -180.0 || col(X2) > 180.0)
      .withColumn(X1, when(col("__wrap"), least(lit(-180.0), col(X1))).otherwise(col(X1)))
      .withColumn(X2, when(col("__wrap"), greatest(lit(180.0), col(X2))).otherwise(col(X2)))
      .drop("__env", "__phimax", "__s", "__dlon", "__wrap")
  }

  /** The two sides of [[join]] as it reads them: envelope columns appended,
    * rows without one dropped, each geometry's envelope computed once.
    * Probe-side MBB expansion (spjoin_2d.hpp:61-66); earth mode converts
    * the meter distance to conservative per-row DEGREE windows instead of
    * expanding by meters-as-degrees (see withEnvEarthMeters — the refine
    * threshold stays in meters, so results are unchanged). */
  private[graft] def enveloped(left: DataFrame, leftGeom: String,
                               right: DataFrame, rightGeom: String,
                               cfg: Config): (DataFrame, DataFrame) = {
    val l =
      if (cfg.predicate == "dwithin" && cfg.earth)
        withEnvEarthMeters(left, leftGeom, cfg.distance)
      else withEnv(left, leftGeom, if (cfg.predicate == "dwithin") cfg.distance else 0.0)
    (l, withEnv(right, rightGeom, 0.0))
  }

  /** Shared entry-point argument validation: a malformed config must fail
    * with a targeted message BEFORE any job runs, never distort results
    * (round-14 verdict #7). `SpatialPartitioner(name)` rejects unknown
    * partitioner names with its own targeted error. */
  def validate(cfg: Config): Unit = {
    require(cfg.bucket >= 0,
      s"bucket must be >= 0 (0 = auto-size from row count), got ${cfg.bucket}")
    require(cfg.sampleTarget > 0,
      s"sampleTarget must be positive, got ${cfg.sampleTarget}")
    require(cfg.distance >= 0.0 && !cfg.distance.isNaN &&
        !cfg.distance.isInfinite,
      s"distance must be a finite value >= 0, got ${cfg.distance}")
    require(cfg.dedup == "refpoint" || cfg.dedup == "none",
      s"dedup must be refpoint|none, got ${cfg.dedup}")
    if (!Set("hc_dist", "str_dist", "slc_dist", "qt_dist", "bsp_dist", "bos_dist")(cfg.partitioner))
      SpatialPartitioner(cfg.partitioner) // rejects an unknown name
  }

  /** Plan tiles from a seeded sample of both inputs' MBBs. Returns the tile
    * index to broadcast, with the per-tile counts planning took as its
    * weights (none for the `*_dist` tilings). Mirrors spjoin steps 2-4
    * (query_spjoin.hpp:74-230). */
  def planTiles(l: DataFrame, r: DataFrame, cfg: Config): TileIndex = {
    val cols = Seq(X1, Y1, X2, Y2).map(col)
    planTiles(l.sparkSession, l.select(cols: _*).unionAll(r.select(cols: _*)).queryExecution.toRdd
      .map(m => Mbb(m.getDouble(0), m.getDouble(1), m.getDouble(2), m.getDouble(3))), cfg)
  }

  /** [[planTiles]] over the inputs' MBBs. Its aggregates and the sample are
    * plain RDD jobs (a DataFrame aggregate adds a SQL execution and an
    * adaptive job per exchange), so they run in the caller's SQL execution;
    * only the `*_dist` tilings plan through DataFrames. */
  def planTiles(spark: SparkSession, mbbs: RDD[Mbb], cfg: Config): TileIndex = {
    val (space, n) = mbbs.aggregate((Mbb.empty, 0L))(
      (acc, m) => (acc._1.union(m), acc._2 + 1), (a, b) => (a._1.union(b._1), a._2 + b._2))
    if (n == 0)
      return new TileIndex(Array(TileBoundary(0, Mbb(0, 0, 1, 1))), Mbb(0, 0, 1, 1))
    val bucket = if (cfg.bucket > 0) cfg.bucket
      else math.max(1000L, n / (spark.sparkContext.defaultParallelism.toLong * TasksPerCore)).toInt
    // the *_dist tilings plan over the WHOLE relation, without a driver
    // sample — the 100 TB paths — reading the MBBs as (xmin, ymin, xmax,
    // ymax) columns: Hilbert runs (G5), STR packing by two distributed sorts
    // (G4), the strip-line chop whose cut abscissas alone reach the driver
    // (G6), qt/bsp splits driven by one EXACT count histogram (G3/G2), and
    // bos strip carving on that histogram plus four bounded marginal tables
    // for the crossing cost, all five from one fused aggregate (G7)
    def frame = spark.createDataFrame(mbbs.map(m => Row(m.xmin, m.ymin, m.xmax, m.ymax)),
      StructType(Seq("xmin", "ymin", "xmax", "ymax").map(StructField(_, DoubleType, nullable = false))))
    import graft.partition.{DistributedHilbert, DistributedHisto, DistributedSlc, DistributedStr}
    val distTiles: Option[Array[TileBoundary]] = cfg.partitioner match {
      case "hc_dist" => Some(DistributedHilbert.tiles(frame, space, n, bucket))
      case "str_dist" => Some(DistributedStr.tiles(frame, n, bucket))
      case "slc_dist" => Some(DistributedSlc.tiles(frame, space, n, bucket))
      case "qt_dist" => Some(DistributedHisto.qtTiles(DistributedHisto.histogram(frame, space), space, bucket))
      case "bsp_dist" => Some(DistributedHisto.bspTiles(DistributedHisto.histogram(frame, space), space, bucket))
      case "bos_dist" =>
        val (counts, cross) = DistributedHisto.allHistograms(frame, space)
        Some(DistributedHisto.bosTiles(counts, cross, space, bucket))
      case _ => None
    }
    if (distTiles.isDefined) return new TileIndex(distTiles.get, space)
    // fg depends on the input only through its row count, which the stats
    // aggregate above already computed EXACTLY — no sample scan, no
    // sampled-count jitter (tiles = ceil(n/bucket), the arithmetic the
    // partition-stats oracles re-derive). Hot-tile shard detection runs
    // as a second bounded aggregate over the CLOSED-FORM fg tile id (pure
    // column arithmetic, ≤ tiles output rows) — exact counts, where the
    // sampled path under-detects hotspots once the sample fraction drops
    // at scale. twoLevel still samples: its hot-tile refinement needs
    // member envelopes. The histogram is kept whole: its counts weigh the
    // refine tasks (TileIndex.refineSlots).
    if (cfg.partitioner == "fg" && !cfg.twoLevel) {
      val tiles = graft.partition.FixedGridPartitioner.partitionCount(n, space, bucket)
      if (cfg.hotTileFactor <= 0) return new TileIndex(tiles, space)
      val (sx, sy) = graft.partition.FixedGridPartitioner.gridDims(n, space, bucket)
      val w = math.max(space.width, 1e-12); val h = math.max(space.height, 1e-12)
      def ax(c: Double, lo: Double, span: Double, s: Int) =
        math.max(0, math.min(s - 1, math.floor((c - lo) / span * s).toLong.toInt))
      val hotAt = cfg.hotTileFactor.toLong * bucket
      val counts = mbbs
        .mapPartitions { ms =>
          val c = scala.collection.mutable.HashMap.empty[Int, Long]
          ms.foreach { m =>
            val t = ax((m.ymin + m.ymax) / 2, space.ymin, h, sy) * sx +
              ax((m.xmin + m.xmax) / 2, space.xmin, w, sx)
            c(t) = c.getOrElse(t, 0L) + 1
          }
          Iterator.single(c)
        }
        .reduce { (a, b) => b.foreach { case (t, k) => a(t) = a.getOrElse(t, 0L) + k }; a }
      val shards = counts.iterator.collect { case (t, c) if c > hotAt =>
        t -> math.min(TileIndex.MaxShards, math.ceil(2.0 * c / hotAt).toInt)
      }.toMap
      return new TileIndex(tiles, space, shards, counts.toMap)
    }
    // a Bernoulli sample seeded per partition, as a DataFrame sample draws it
    val fraction = math.min(1.0, cfg.sampleTarget.toDouble / n)
    val sample = mbbs.mapPartitionsWithIndex { (i, ms) =>
      val s = new BernoulliCellSampler[Mbb](0.0, fraction)
      s.setSeed(SampleSeed + i)
      ms.filter(_ => s.sample() > 0)
    }.take(cfg.sampleTarget * 2)
    // scale bucket by the sample rate (reference queryprocessor_2d.cpp:280)
    val scaledBucket = math.max(1, math.floor(bucket * fraction).toInt)
    val part = SpatialPartitioner(cfg.partitioner)
    val tiles0 = part.partition(sample, space, scaledBucket)
    // 2-level nesting (reference para_partition, query_spjoin.hpp:210-230):
    // overloaded first-level tiles get re-partitioned within their bounds —
    // the skew mitigation for hot regions (cities in OSM)
    val tiles =
      if (!cfg.twoLevel) tiles0
      else {
        val idx0 = new TileIndex(tiles0, space)
        val members = sample.groupBy(m => idx0.refTile(m.centerX, m.centerY))
        var nextId = 0
        idx0.tiles.flatMap { tb =>
          val ms: Array[Mbb] = members.getOrElse(tb.tileId, Array.empty[Mbb])
          val out =
            if (ms.length <= 2 * scaledBucket) Array(tb.mbb)
            else part.partition(ms, tb.mbb, scaledBucket).map(_.mbb)
          out.map { m => val t = TileBoundary(nextId, m); nextId += 1; t }
        }
      }
    // Spatially-unsplittable hotspots (many rows at one coordinate) cannot
    // be tamed by more tiles: shard their probe side instead (salting). The
    // sample's per-tile counts also weigh the refine tasks.
    val covered = new TileIndex(tiles, space)
    val counts = scala.collection.mutable.Map.empty[Int, Long]
    sample.foreach { m =>
      val t = covered.refTile(m.centerX, m.centerY)
      if (t >= 0) counts(t) = counts.getOrElse(t, 0L) + 1
    }
    val shards: Map[Int, Int] =
      if (cfg.hotTileFactor <= 0) Map.empty
      else {
        val hotAt = cfg.hotTileFactor.toLong * scaledBucket
        counts.iterator.collect {
          case (t, c) if c > hotAt =>
            t -> math.min(TileIndex.MaxShards,
              math.ceil(2.0 * c / hotAt).toInt)
        }.toMap
      }
    covered.withCounts(shards, counts.toMap)
  }

  /** J2: self spatial join. With replicate=false (the default, like the
    * reference's --replicate) each unordered pair appears once (idA < idB)
    * and identity pairs are skipped (spjoin_2d.hpp:77-84); with
    * replicate=true both orientations appear. Output columns are prefixed
    * l_/r_. */
  def selfJoin(df: DataFrame, geomCol: String, idCol: String,
               replicate: Boolean = false,
               cfg: Config = Config()): DataFrame = {
    val left = df.toDF(df.columns.map("l_" + _).toIndexedSeq: _*)
    val right = df.toDF(df.columns.map("r_" + _).toIndexedSeq: _*)
    val joined = join(left, "l_" + geomCol, right, "r_" + geomCol, cfg)
    if (replicate) joined.where(col("l_" + idCol) =!= col("r_" + idCol))
    else joined.where(col("l_" + idCol) < col("r_" + idCol))
  }

  /** Full spatial join. `left`/`right` must contain a WKB BinaryType
    * geometry column named `leftGeom`/`rightGeom`; all other column names
    * must be disjoint between the two sides. Output = left columns ++ right
    * columns, one row per matched pair (deduped across tiles).
    *
    * Lazy: the result is a logical [[SpatialJoinNode]] over the two
    * [[enveloped]] sides (each envelope computed once per row), which
    * [[SpatialJoinStrategy]] (added to the session's planner here) plans
    * into [[org.apache.spark.sql.graft.SpatialJoinExec]], the operator SQL
    * spatial joins run too. Its refine stage is [[slotCogroup]]: one task
    * per (tile, shard) key, heaviest first by the per-tile counts planning
    * took, up to 4 tasks per core (more keys pack onto one task per core),
    * each holding one key's STRtree at a time. */
  def join(left: DataFrame, leftGeom: String,
           right: DataFrame, rightGeom: String,
           cfg: Config = Config()): DataFrame = {
    val spark = left.sparkSession
    validate(cfg)
    requireDisjoint(left, right)
    val (lEnv, rEnv) = enveloped(left, leftGeom, right, rightGeom, cfg)

    // st_equals implies envelope equality, so the complete candidate set is
    // a plain hash EQUI-join on the four envelope coordinates — no tiling,
    // no replication, no per-tile index; Catalyst shuffles (or broadcasts)
    // by the envelope key and the exact equalsTopo test refines. Strictly
    // better than the reference's tile plan at any scale, with identical
    // results (envelope-equal pairs always share every tile).
    if (cfg.predicate == "equals") {
      val keys = Seq(X1, Y1, X2, Y2)
      val out = lEnv.join(rEnv, keys)
        .where(graft.functions.st_equals(col(leftGeom), col(rightGeom)))
        .select((left.columns ++ right.columns).map(col).toIndexedSeq: _*)
      return if (cfg.keepTile) out.withColumn("tile_id", lit(-1)) else out
    }

    SpatialJoinStrategy.install(spark)
    val (lp, rp) = (lEnv.queryExecution.analyzed, rEnv.queryExecution.analyzed)
    def attrs(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, names: String*) =
      names.map(n => p.output.find(_.name == n).get)
    Bridge.ofPlan(spark, SpatialJoinNode(lp, rp, attrs(lp, leftGeom).head, attrs(rp, rightGeom).head,
      attrs(lp, X1, Y1, X2, Y2), attrs(rp, X1, Y1, X2, Y2), cfg,
      if (cfg.keepTile) Some(AttributeReference("tile_id", IntegerType, nullable = false)())
      else None))
  }

  /** An STRtree over `rows` with a parseable geometry at `geomIdx`, each
    * inserted as (geometry, a copy of the row) under its envelope columns
    * `envIdx`. */
  def rowTree(geomIdx: Int, envIdx: Seq[Int])(rows: Iterator[InternalRow]): STRtree = {
    val tree = new STRtree()
    rows.foreach { row =>
      val g = GeometryCodec.fromWkb(row.getBinary(geomIdx))
      if (g != null)
        tree.insert(new Envelope(row.getDouble(envIdx(0)), row.getDouble(envIdx(2)),
                                 row.getDouble(envIdx(1)), row.getDouble(envIdx(3))), (g, row.copy()))
    }
    tree.build()
    tree
  }

  private def requireDisjoint(left: DataFrame, right: DataFrame): Unit = {
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column name collision between join sides: $dup")
  }

  /** The layout of the rows [[slotCogroup]] hands its callbacks: the refine
    * slot, the (tile, shard) key, then the input's `attrs`. */
  def keyed(attrs: Seq[Attribute]): Seq[Attribute] =
    AttributeReference(Slot, IntegerType, nullable = false)() +:
      AttributeReference(Tile, LongType, nullable = false)() +: attrs

  /** `rows`, laid out as `attrs`, shuffled into the partitions of `by` and
    * sorted within each by `order`, on Spark's UnsafeRow serializer and
    * spilling external sorter. The returned iterators reuse their rows. */
  def clustered(spark: SparkSession, rows: RDD[InternalRow], attrs: Seq[Attribute],
                               by: Partitioning, order: Seq[SortOrder]): RDD[InternalRow] =
    Bridge.withActive(spark) {
      SortExec(order, global = false, ShuffleExchangeExec(by, RDDScanExec(attrs, rows, "rows")))
        .execute()
    }

  /** The refine stage of every 2-D tiled operator, on internal rows.
    * `probeKeys` and `buildKeys` give each row of `probe` / `build` (laid
    * out as `probeAttrs` / `buildAttrs`) its composite (tile, shard) keys,
    * built by `slots`' key arithmetic ([[TileIndex.probeKeys]],
    * [[TileIndex.buildKeys]], [[TileIndex.probeKey]]). Each keyed row is
    * shuffled straight onto its key's refine slot ([[TileIndex.refineSlots]],
    * heaviest key first; the partition id IS the slot). Up to
    * [[TasksPerCore]] keys per core, each key is one task, so the scheduler
    * evens out keys whose planned weight misjudges their work. Past that,
    * keys are packed anyway, and packing by weight onto one slot per core
    * spends the fewest tasks: a q_knn_tile `knnJoin` (30 keys of cheap point
    * searches, 4 cores) used 0.32-0.36 task-CPU-s per run on 16 packed
    * slots against 0.24-0.27 on 4, in the same wall time. Hashing keys onto
    * the session's shuffle partitions instead leaves one task holding
    * several tiles while other cores idle, and adaptive execution coalesces
    * them further.
    *
    * Within a slot both sides are sorted by key ([[clustered]]), and
    * [[keyRuns]] walks them: `index` builds one key's index from its build
    * rows (which it must copy to keep), and the per-task `refine` turns
    * each of the key's probe rows into output rows. Both see rows laid out
    * as [[keyed]]. */
  def slotCogroup[T](spark: SparkSession, slots: TileIndex,
      probe: RDD[InternalRow], probeAttrs: Seq[Attribute], probeKeys: InternalRow => Iterator[Long],
      build: RDD[InternalRow], buildAttrs: Seq[Attribute], buildKeys: InternalRow => Iterator[Long])(
      index: Iterator[InternalRow] => T)(
      refine: () => (T, InternalRow) => Iterator[InternalRow]): RDD[InternalRow] = {
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val keys = slots.tiles.iterator.map(t => slots.shardsOf(t.tileId)).sum
    val (nSlots, slotOf) =
      slots.refineSlots(if (keys <= TasksPerCore * cores) keys else cores)
    val slotBc = sc.broadcast(slotOf)
    def bySlot(rows: RDD[InternalRow], attrs: Seq[Attribute], keysOf: InternalRow => Iterator[Long]) = {
      val out = keyed(attrs)
      val tagged: RDD[InternalRow] = rows.mapPartitions { it =>
        val head = new GenericInternalRow(2)
        val joined = new JoinedRow(head, null)
        val proj = UnsafeProjection.create(out, out)
        it.flatMap { row =>
          joined.withRight(row)
          keysOf(row).map { k => head.setInt(0, slotBc.value(k)); head.setLong(1, k); proj(joined) }
        }
      }
      clustered(spark, tagged, out,
        ShufflePartitionIdPassThrough(DirectShufflePartitionID(out.head), nSlots),
        Seq(SortOrder(out(1), Ascending)))
    }
    bySlot(probe, probeAttrs, probeKeys).zipPartitions(bySlot(build, buildAttrs, buildKeys)) {
      (ps, bs) => keyRuns(bs, ps)(_.getLong(1), _.getLong(1))(index)(refine())
    }
  }

  /** Walks one refine slot whose build and probe rows both arrive sorted by
    * key: for each key that has probe rows, `index` builds that key's index
    * from its build rows (none, for a key without build rows), and `refine`
    * runs each probe row of the key against it, before the next key's rows
    * are read. The last key's index is dropped before the next one is
    * built, so a slot holds one key's index at a time however many keys it
    * packs. Build rows of keys without probe rows are passed over unread
    * into any index. */
  private[operators] def keyRuns[B, P, T, R](build: Iterator[B], probe: Iterator[P])(
      buildKey: B => Long, probeKey: P => Long)(index: Iterator[B] => T)(
      refine: (T, P) => Iterator[R]): Iterator[R] = new Iterator[R] {
    private val bs = build.buffered
    private val ps = probe.buffered
    private var key = 0L
    private var current: Option[T] = None
    private var out: Iterator[R] = Iterator.empty

    private def advance(): Boolean =
      if (current.isDefined && ps.hasNext && probeKey(ps.head) == key) {
        out = refine(current.get, ps.next()); true
      } else if (ps.hasNext) {
        current = None
        key = probeKey(ps.head)
        while (bs.hasNext && buildKey(bs.head) < key) bs.next()
        val run = new Iterator[B] {
          def hasNext: Boolean = bs.hasNext && buildKey(bs.head) == key
          def next(): B = bs.next()
        }
        current = Some(index(run))
        run.foreach(_ => ())
        true
      } else false

    def hasNext: Boolean = {
      while (!out.hasNext && advance()) {}
      out.hasNext
    }
    def next(): R = if (hasNext) out.next() else Iterator.empty.next()
  }

  /** One tile's right geometries, in arrival order, indexed for nearest-
    * neighbour search — the per-tile R-tree of the reference's kNN reducer
    * (knn_2d.hpp:146-179) and the one top-m kernel of every kNN path.
    * Every geometry, and every query, must be located
    * ([[GeomKernels.located]]): the search below ends once its query
    * envelope covers the m-th candidate or the whole tile, and an empty or
    * non-finite envelope is never covered. */
  private[operators] final class KnnTile(geoms: Array[Geometry]) {
    require(geoms.forall(g => GeomKernels.located(g.getEnvelopeInternal)),
      "KnnTile indexes located geometries only")
    // built on first need: a tile with at most m geometries answers every
    // query by a full sort and never pays for the tree
    private lazy val (tree, dataDiag) = {
      val t = new STRtree()
      val dataEnv = new Envelope()
      var p = 0
      while (p < geoms.length) {
        t.insert(geoms(p).getEnvelopeInternal, (geoms(p), p))
        dataEnv.expandToInclude(geoms(p).getEnvelopeInternal)
        p += 1
      }
      t.build()
      // radius-growth floor for the re-query loop below
      (t, math.hypot(dataEnv.getWidth, dataEnv.getHeight))
    }

    /** (distance, position) pairs sorted by distance, then position: the m
      * nearest geometries to `g1` (all of them, when there are at most m),
      * followed by every other geometry within the radius that proved them,
      * which includes every geometry tied with the m-th.
      *
      * Branch-and-bound seeds the radius with the largest distance among
      * the m items JTS's nearestNeighbour returns. Seed only: it can return
      * the same item twice, so that maximum may undershoot the true m-th
      * distance. The envelope query re-runs with a doubled radius until the
      * m-th candidate provably lies inside it (nothing outside the query
      * envelope can beat it) or the query covered the whole tile, which
      * makes the result exact regardless. O(log n) per query instead of a
      * full sort of the tile. */
    def nearest(g1: Geometry, m: Int): Array[(Double, Int)] = {
      require(GeomKernels.located(g1.getEnvelopeInternal), "KnnTile queries a located geometry")
      def ranked(ps: Iterator[Int]): Array[(Double, Int)] =
        ps.map(p => (g1.distance(geoms(p)), p)).toArray.sorted(ByDistPos)
      if (geoms.length <= m) ranked(geoms.indices.iterator)
      else {
        val itemDist = new org.locationtech.jts.index.strtree.ItemDistance {
          override def distance(a: ItemBoundable, b: ItemBoundable): Double =
            a.getItem.asInstanceOf[(Geometry, Int)]._1
              .distance(b.getItem.asInstanceOf[(Geometry, Int)]._1)
        }
        var r = tree.nearestNeighbour(g1.getEnvelopeInternal, (g1, -1), itemDist, m)
          .iterator.map(o => g1.distance(o.asInstanceOf[(Geometry, Int)]._1)).max
        var res: Array[(Double, Int)] = null
        while (res == null) {
          val env = g1.getEnvelopeInternal.copy(); env.expandBy(r)
          val cand = ranked(tree.query(env).iterator.asScala
            .map(_.asInstanceOf[(Geometry, Int)]._2))
          if ((cand.length >= m && cand(m - 1)._1 <= r) || cand.length == geoms.length)
            res = cand
          else r = math.max(r * 2, dataDiag / 1024)
        }
        res
      }
    }
  }

  /** `g` when it parsed and is located ([[GeomKernels.located]]). */
  private def located(g: Geometry): Option[Geometry] =
    Option(g).filter(g => GeomKernels.located(g.getEnvelopeInternal))

  private val ByDistPos: Ordering[(Double, Int)] =
    Ordering.fromLessThan((a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))

  /** Argument checks shared by the kNN entry points, run before any job. */
  private def validateKnn(left: DataFrame, right: DataFrame, k: Int, cfg: Config): Unit = {
    validate(cfg)
    require(k >= 1, s"k must be >= 1, got $k")
    requireDisjoint(left, right)
  }

  /** Owner-tile kNN, shared by [[knnJoin]] and pass 1 of [[knnJoinExact]]:
    * every left row of `l` goes to exactly ONE tile of `index`, the owner
    * of its envelope center, and right rows of `r` replicate to every tile
    * their envelope touches. Each tile's right rows become one [[KnnTile]]
    * in the refine stage [[slotCogroup]] runs, and each left row with a
    * parseable geometry is answered by its `m` nearest; `emit` turns the
    * left row (laid out as [[keyed]] `l`), its owner tile and those
    * (distance, right row) candidates into (right row or null, distance,
    * rank) triples. Left rows whose tile holds no right row meet an empty
    * candidate list. Output = left columns ++ right columns, typed as
    * `fields` (whose nullability the caller picks: a null right row needs
    * nullable right fields), ++ `knn_dist` ++ `knn_rank`. */
  private def ownerTileKnn(left: DataFrame, l: DataFrame, leftGeom: String,
                           right: DataFrame, r: DataFrame, rightGeom: String,
                           index: TileIndex, m: Int, fields: Seq[StructField])(
      emit: (InternalRow, Int, Array[(Double, InternalRow)]) => Iterator[(InternalRow, Double, Int)]
  ): DataFrame = {
    val spark = left.sparkSession
    // one key per tile: owner tiles take no hot-tile shards
    val owners = index.withCounts(Map.empty, index.tileWeights)
    val bc = spark.sparkContext.broadcast(owners)
    val Seq(lx1, ly1, lx2, ly2) = Seq(X1, Y1, X2, Y2).map(l.schema.fieldIndex)
    val rEnv = Seq(X1, Y1, X2, Y2).map(r.schema.fieldIndex)
    val ownerKey = (row: InternalRow) => Iterator.single(bc.value.refTile(
      (row.getDouble(lx1) + row.getDouble(lx2)) / 2,
      (row.getDouble(ly1) + row.getDouble(ly2)) / 2).toLong * TileIndex.MaxShards)
    val tileKeys = (row: InternalRow) => bc.value.buildKeys(row.getDouble(rEnv(0)),
      row.getDouble(rEnv(1)), row.getDouble(rEnv(2)), row.getDouble(rEnv(3))).iterator
    val (lA, rA) = (attrsOf(l), attrsOf(r))
    val (lK, rK) = (keyed(lA), keyed(rA))
    val lGeom = l.schema.fieldIndex(leftGeom) + 2; val rGeom = r.schema.fieldIndex(rightGeom) + 2
    val lOut = left.columns.toSeq.map(c => lK(l.schema.fieldIndex(c) + 2))
    val rOut = right.columns.toSeq.map(c => rK(r.schema.fieldIndex(c) + 2))
    val outSchema = StructType(fields :+
      StructField("knn_dist", DoubleType, nullable = false) :+
      StructField("knn_rank", IntegerType, nullable = false))

    val rows = slotCogroup(spark, owners, l.queryExecution.toRdd, lA, ownerKey,
        r.queryExecution.toRdd, rA, tileKeys) { build =>
      val items = build.flatMap { row =>
        Option(GeometryCodec.fromWkb(row.getBinary(rGeom))).map((_, row.copy()))
      }.toArray
      (new KnnTile(items.map(_._1)), items.map(_._2))
    } { () =>
      val knnRow = knnRows(lOut, lK, rOut, rK)
      (tileRows, lrow) => {
        val (tile, rows) = tileRows
        val g1 = GeometryCodec.fromWkb(lrow.getBinary(lGeom))
        if (g1 == null) Iterator.empty
        else {
          val owner = (lrow.getLong(1) / TileIndex.MaxShards).toInt
          val near = tile.nearest(g1, m).map { case (d, p) => (d, rows(p)) }
          emit(lrow, owner, near).map { case (rrow, d, rank) => knnRow(lrow, rrow, d, rank) }
        }
      }
    }
    Bridge.frame(spark, rows, outSchema)
  }

  private def attrsOf(df: DataFrame): Seq[Attribute] = DataTypeUtils.toAttributes(df.schema)

  /** Per task: a kNN output row from a left row laid out as `lIn` and a
    * right row laid out as `rIn` (or null): the `lOut` columns, the `rOut`
    * columns (nulls for a null right row), the distance and the rank. */
  private def knnRows(lOut: Seq[Attribute], lIn: Seq[Attribute],
                      rOut: Seq[Attribute], rIn: Seq[Attribute]
  ): (InternalRow, InternalRow, Double, Int) => InternalRow = {
    val dr = Seq(AttributeReference("knn_dist", DoubleType, nullable = false)(),
      AttributeReference("knn_rank", IntegerType, nullable = false)())
    val proj = UnsafeProjection.create(lOut ++ rOut ++ dr,
      lIn ++ rIn.map(_.withNullability(true)) ++ dr)
    val nulls = new GenericInternalRow(rIn.length)
    val last = new GenericInternalRow(2)
    val (lr, lrd) = (new JoinedRow, new JoinedRow)
    (lrow, rrow, d, rank) => {
      last.setDouble(0, d); last.setInt(1, rank)
      proj(lrd(lr(lrow, if (rrow == null) nulls else rrow), last))
    }
  }

  /** Tile-local kNN join (reference st_nearest2, knn_2d.hpp:22-233): every
    * left row is assigned to exactly ONE tile (the owner of its envelope
    * center) and matched with its k nearest right rows *in that tile* —
    * reproducing the reference's tile-local caveat without the reference's
    * cross-tile duplicate emission. Equal distances rank in arrival order.
    * This is pass 1 of [[knnJoinExact]] without its safety classification
    * ([[ownerTileKnn]]). Each side's envelopes are read through one
    * persisted copy, released after the consuming query. Column names must
    * be disjoint between the sides. Output = left cols ++ right cols ++
    * `knn_dist`. */
  def knnJoin(left: DataFrame, leftGeom: String,
              right: DataFrame, rightGeom: String,
              k: Int, cfg: Config = Config()): DataFrame = {
    validateKnn(left, right, k, cfg)
    val (l, lCopy) = Bridge.persisted(withEnv(left, leftGeom, 0.0))
    val (r, rCopy) = Bridge.persisted(withEnv(right, rightGeom, 0.0))
    val out = ownerTileKnn(left, l, leftGeom, right, r, rightGeom, planTiles(l, r, cfg), k,
        left.schema ++ right.schema) { (_, _, near) =>
      near.iterator.take(k).zipWithIndex.map { case ((d, rrow), i) => (rrow, d, i + 1) }
    }.drop("knn_rank")
    CacheHygiene.releaseAfterFirstJob(left.sparkSession.sparkContext, lCopy)(
      Seq(lCopy, rCopy).foreach(_.unpersist(blocking = false)))
    out
  }

  /** Per-tile kNN ring plans over arbitrary tile boxes: for each tile,
    * the smallest set of tiles (in increasing max box-to-box distance)
    * holding ≥ k right centers, with the largest right half-diagonal among
    * them (geometry-precision slack — see the derivation at the call
    * site). The per-ROW search radius is then measured from each left
    * row's own center to that set — NOT from the owner tile's far corner,
    * which for a large right-empty tile (uniform grids under point-mass
    * clustering, or a coarse adaptive leaf) inflates every resident row's
    * radius by the whole tile span and degenerates pass 2 to a
    * near-cartesian re-pair (measured in SCALE.md's knn2d rehearsal).
    * Tiles that never reach k (right side smaller than k) carry an empty
    * set → the caller's cap.
    *
    * Scale shape: an STRtree over the occupied tile boxes turns the former
    * per-tile sort over ALL occupied tiles — whose occupied×total product
    * needed a 4M give-up budget that any 100 TB tiling would trip — into a
    * radius-expanding LOCAL neighborhood search. Per tile: query the tiles
    * within search radius R (envelope expansion ⊇ mindist ≤ R), sort only
    * those by (maxDist, tileId), take the prefix reaching k. If the prefix
    * max M ≤ R the result is EXACTLY the full-sort answer (every tile of
    * the optimal prefix has mindist ≤ maxDist ≤ M ≤ R, so it was a
    * candidate); otherwise one re-query at R = M is provably sufficient.
    * Cost: O(tiles × neighborhood) instead of O(tiles × occupied). */
  private[operators] def tileRingPlans(tiles: Array[TileBoundary],
                                       stats: Map[Int, (Long, Double)],
                                       k: Int): (Array[Array[Int]], Array[Double]) = {
    val nT = tiles.length
    val sets = Array.fill(nT)(Array.empty[Int])
    val mhds = Array.fill(nT)(0.0)
    val occ = stats.toArray
      .filter { case (t, (c, _)) => c > 0 && t >= 0 && t < nT }
      .sortBy(_._1)
    // k <= 0 would satisfy acc >= k with an EMPTY prefix (ds(-1) below);
    // empty plans are the degenerate answer, as the full-sort form gave
    if (k <= 0 || occ.isEmpty || occ.iterator.map(_._2._1).sum < k)
      return (sets, mhds)
    def maxDist(a: Mbb, b: Mbb): Double = {
      val dx = math.max(a.xmax - b.xmin, b.xmax - a.xmin)
      val dy = math.max(a.ymax - b.ymin, b.ymax - a.ymin)
      math.sqrt(dx * dx + dy * dy)
    }
    val tree = new STRtree()
    occ.foreach { case (t, _) =>
      val m = tiles(t).mbb
      tree.insert(new Envelope(m.xmin, m.xmax, m.ymin, m.ymax), Integer.valueOf(t))
    }
    tree.build()
    var i = 0
    while (i < nT) {
      val a = tiles(i).mbb
      // initial radius: the tile's own diagonal (covers its immediate
      // neighborhood on any roughly-uniform tiling), floored for
      // degenerate point tiles
      var radius = math.max(1e-9,
        math.hypot(a.xmax - a.xmin, a.ymax - a.ymin))
      var done = false
      while (!done) {
        val env = new Envelope(a.xmin - radius, a.xmax + radius,
          a.ymin - radius, a.ymax + radius)
        val cands = tree.query(env)
        val ds = new Array[(Double, Int, Long, Double)](cands.size())
        var c = 0
        while (c < ds.length) {
          val t = cands.get(c).asInstanceOf[Integer].intValue
          val (cnt, hd) = stats(t)
          ds(c) = (maxDist(a, tiles(t).mbb), t, cnt, hd)
          c += 1
        }
        scala.util.Sorting.stableSort(ds,
          (x: (Double, Int, Long, Double), y: (Double, Int, Long, Double)) =>
            x._1 < y._1 || (x._1 == y._1 && x._2 < y._2))
        var acc = 0L; var j = 0; var mhd = 0.0
        while (j < ds.length && acc < k) {
          acc += ds(j)._3; mhd = math.max(mhd, ds(j)._4); j += 1
        }
        if (acc >= k) {
          val m = ds(j - 1)._1
          if (m <= radius) {
            sets(i) = ds.take(j).map(_._2)
            mhds(i) = mhd
            done = true
          } else radius = m // one exact re-query: all maxDist ≤ m tiles land inside
        } else if (ds.length == occ.length) {
          done = true // unreachable (total ≥ k checked) — defensive exit
        } else radius *= 2
      }
      i += 1
    }
    (sets, mhds)
  }

  /** EXACT (global) kNN join — the improvement over the reference's
    * tile-local st_nearest2. One tiling, two refine passes, both on the
    * refine slots [[join]] uses ([[slotCogroup]]):
    *
    *   1. owner-tile kNN ([[ownerTileKnn]], the [[knnJoin]] kernel asked for
    *      k + 1 neighbours, so a tie at the k boundary shows). A left row is
    *      SAFE — its local top-k is provably the global top-k — when its
    *      k-th local distance is smaller than the distance from its
    *      envelope to the owner tile's boundary (every unseen right row is
    *      farther) and no distance tie makes ranks ambiguous. Safe rows are
    *      emitted final, with ranks, straight from pass 1.
    *   2. only the unsafe remainder (boundary-adjacent rows, tied ranks,
    *      tiles with < k right rows, right-empty tiles included) re-joins
    *      with a per-row radius bound: the k-th local distance, tightened
    *      by the owner tile's density-planned ring radius (tileRingRadii —
    *      the smallest set of tiles holding ≥ k right centers); starved
    *      tiles search that ring instead of the space diagonal. Tiles whose
    *      replica load passes the refine-slot share split into hot-tile
    *      shards. Reference-point deduped, then a window top-k.
    *
    * A right side of at most `knnBroadcastThreshold` rows is broadcast
    * instead ([[knnBroadcast]]): no tiling, no shuffle. Both intermediates
    * of the tiled path are RDD-level copies, released after the first query
    * that consumes the result; nothing registers in the session's
    * CacheManager.
    *
    * `leftId` must uniquely key left rows. `tieBreak` columns (right side)
    * order equal distances deterministically. Column names must be disjoint
    * between the sides. Output = left cols ++ right cols ++ knn_dist ++
    * knn_rank.
    */
  def knnJoinExact(left: DataFrame, leftGeom: String, leftId: String,
                   right: DataFrame, rightGeom: String, k: Int,
                   tieBreak: Seq[String] = Seq.empty,
                   cfg: Config = Config(),
                   maxDistance: Double = Double.PositiveInfinity): DataFrame = {
    val spark = left.sparkSession
    validateKnn(left, right, k, cfg)
    require(maxDistance > 0 && !maxDistance.isNaN,
      s"maxDistance must be positive (PositiveInfinity = unbounded), got $maxDistance")

    // Small right side (dim-table shape): broadcast it and scan left once —
    // exact global kNN with ZERO shuffles (the plan a hand-tuned engine
    // would pick; Catalyst's broadcast-join analog for kNN).
    if (cfg.knnBroadcastThreshold > 0) {
      val probe = right.limit(cfg.knnBroadcastThreshold + 1).collect()
      if (probe.length <= cfg.knnBroadcastThreshold)
        return knnBroadcast(left, leftGeom, right, rightGeom, probe, k, tieBreak)
    }

    // each side's envelopes are read through one copy, released with the
    // intermediates after the consuming query
    val (l, lCopy) = Bridge.persisted(withEnv(left, leftGeom, 0.0))
    val (r, rCopy) = Bridge.persisted(withEnv(right, rightGeom, 0.0))
    val index = planTiles(l, r, cfg)
    val diag = math.sqrt(index.space.width * index.space.width +
                         index.space.height * index.space.height)
    val bc = spark.sparkContext.broadcast(index)
    val tileIds = udf { (x1: Double, y1: Double, x2: Double, y2: Double) =>
      bc.value.tilesFor(x1, y1, x2, y2)
    }
    val ownerTile = udf { (x1: Double, y1: Double, x2: Double, y2: Double) =>
      bc.value.refTile((x1 + x2) / 2, (y1 + y2) / 2)
    }

    // Per-tile search radii from EXACT right-center counts (the 3-D kNN's
    // density-planned radius, generalized to arbitrary tile boxes): the
    // smallest set of tiles — in increasing max box-to-box distance —
    // holding ≥ k right envelope centers bounds any resident left row's
    // k-th neighbor at geometry precision via
    //   g1.distance(g2) ≤ hd(g1) + |c1 − c2| + hd(g2)
    // (hd = half envelope diagonal; some point of each geometry lies
    // within hd of its envelope center). Starved owner tiles then search
    // ring-bounded neighborhoods instead of the space diagonal, which
    // replicated their probes to EVERY tile — the 3-D near-cartesian
    // failure mode, latent here on sparse-region data.
    val halfDiag =
      sqrt(pow(col(X2) - col(X1), lit(2)) + pow(col(Y2) - col(Y1), lit(2))) / 2
    val tileStats = r.select(
        ((col(X1) + col(X2)) / 2).as("__cx"),
        ((col(Y1) + col(Y2)) / 2).as("__cy"),
        halfDiag.as("__hd"))
      .groupBy(udf { (x: Double, y: Double) => bc.value.refTile(x, y) }
        .apply(col("__cx"), col("__cy")).as("__t"))
      .agg(count(lit(1)).as("__c"), max(col("__hd")).as("__mhd"))
      .collect().map(row => row.getInt(0) -> (row.getLong(1), row.getDouble(2))).toMap
    val (ringSets, ringMhds) = tileRingPlans(index.tiles, tileStats, k)
    val planBc = spark.sparkContext.broadcast((ringSets, ringMhds))
    // per-ROW ring radius, measured from the row's own envelope center to
    // its owner tile's planned ring set:
    //   g1.distance(g2) ≤ hd1 + |c1 − c2| + hd2 ≤ hd1 + maxDist(c1, U.box) + mhd
    // for every right centered in ring tile U — ≥ k such rights exist, so
    // the max over the set bounds the row's k-th NN. Measuring from c1
    // (not the owner tile's far corner) keeps the radius tight when the
    // owner tile is large and right-empty — the shape where a per-tile
    // radius degenerates pass 2 (SCALE.md knn2d rehearsal).
    val ringRadRow = udf { (cx: Double, cy: Double, ot: Int) =>
      val (sets, mhds) = planBc.value
      if (ot < 0 || ot >= sets.length || sets(ot).isEmpty)
        null.asInstanceOf[java.lang.Double] // no plan → caller's cap
      else {
        val tiles = bc.value.tiles
        var m = 0.0
        sets(ot).foreach { t =>
          val b = tiles(t).mbb
          val dx = math.max(math.abs(cx - b.xmin), math.abs(cx - b.xmax))
          val dy = math.max(math.abs(cy - b.ymin), math.abs(cy - b.ymax))
          val d = math.sqrt(dx * dx + dy * dy)
          if (d > m) m = d
        }
        java.lang.Double.valueOf(m + mhds(ot))
      }
    }

    val lOutCols = left.columns; val rOutCols = right.columns

    // ---------------- pass 1: owner-tile kNN + safety classification
    val lEnvIdx = Seq(X1, Y1, X2, Y2).map(l.schema.fieldIndex(_) + 2)
    // marker rows carry null right columns
    val pass1 = ownerTileKnn(left, l, leftGeom, right, r, rightGeom, index, k + 1,
        (left.schema ++ right.schema).map(_.copy(nullable = true))) { (lrow, owner, near) =>
      if (near.length < k) Iterator.single((null, -1.0, -1))
      else {
        val tb = bc.value.tileById(owner).mbb
        val dk = near(k - 1)._1
        // envelope gap to the owner tile's boundary (conservative)
        val edge = math.min(
          math.min(lrow.getDouble(lEnvIdx(0)) - tb.xmin,
                   tb.xmax - lrow.getDouble(lEnvIdx(2))),
          math.min(lrow.getDouble(lEnvIdx(1)) - tb.ymin,
                   tb.ymax - lrow.getDouble(lEnvIdx(3))))
        val tieAtBoundary = near.length > k && near(k)._1 == dk
        val internalTie = (1 until k).exists(i => near(i)._1 == near(i - 1)._1)
        if (dk < edge && !tieAtBoundary && !internalTie)
          near.iterator.take(k).zipWithIndex.map { case ((d, rrow), i) => (rrow, d, i + 1) }
        else Iterator.single((null, dk, -1))
      }
    }
    // consumed twice (safe rows + unsafeRadii): an RDD-level copy, so the
    // owner-tile refine runs once, without registering in the session's
    // CacheManager, where sibling queries could hit or unpersist it.
    // Released after the consuming query (CacheHygiene). Filled here as a
    // materialization barrier (keyOverlapPairs discipline): safe and
    // unsafeRadii are concurrent subtrees of the final plan — a lazy copy
    // read by both would race its own population and refine twice
    val (p1, p1Rows) = Bridge.filled(pass1)

    val safe = p1.where(col("knn_rank") > 0)
    // per-row pass-2 search radius: the k-th local distance, or the space
    // diagonal when the owner tile was starved — clamped to maxDistance for
    // bounded-d kNN (a starved tile would otherwise replicate its probes to
    // EVERY tile; with a bound, neighbors beyond d are dropped anyway)
    val cap = math.min(diag, maxDistance)
    val unsafeRadii = p1.where(col("knn_rank") === -1)
      .select(col(leftId), when(col("knn_dist") < 0, lit(cap))
        .otherwise(least(col("knn_dist"), lit(cap))).as(Rad))

    // ---------------- probe: per-row EXACT k-th upper bound (3-D knnCore's
    // probe phase, 2-D form). Each unsafe left joins ONLY its owner tile's
    // planned ring set against the single-replica (center-tile) right
    // relation and takes its k-th probe distance: the set holds ≥ k real
    // rights, so that distance is a true upper bound on the row's k-th NN
    // — far tighter than any tile-granular radius when owner tiles are
    // large and right-empty (SCALE.md knn2d: per-tile radii degenerate
    // pass 2 near-cartesian under point-mass clustering). The rank filter
    // compiles to Spark's WindowGroupLimit: per-key top-k runs map-side
    // before the exchange, so probe shuffle is O(lefts × k), not
    // O(lefts × candidates).
    val probeDf = {
      import spark.implicits._
      ringSets.zipWithIndex.flatMap { case (ts, i) => ts.map(t => (i, t)) }
        .toSeq.toDF("__ot", "__pt")
    }
    // Candidates per probe tile are CAPPED at max(k, 64): any subset of
    // min(cap, cᵢ) rights per ring tile still holds Σ min(cap, cᵢ) ≥
    // min(cap, Σ cᵢ) ≥ k candidates (cap ≥ k, plan guarantees Σ cᵢ ≥ k),
    // so the k-th probe distance stays a true upper bound — only looser
    // for lefts INSIDE dense tiles, whose pass-1 k-th local distance
    // already bounds them tightly. The payoff is scale-shaped: the probe
    // relation shrinks from O(|right|) to ≤ ringTiles × cap rows — bounded
    // by the tiling, not the data — so it BROADCASTS, the probe join never
    // shuffles the lefts by tile, and the hot-ring-tile straggler (nearly
    // every left in a sparse space probes the same few cluster-edge tiles;
    // measured as a single-partition near-stall in SCALE.md's knn2d
    // rehearsal) disappears. Rank order is content-hashed → deterministic
    // across runs and independent of scan order; the cap rank itself
    // compiles to WindowGroupLimit (map-side top-cap before the exchange).
    val probeTiles = ringSets.iterator.flatten.toSet
    val probeTileCap = math.max(k, 64)
    val probeTilesBc = spark.sparkContext.broadcast(probeTiles)
    val inProbeTiles = udf { (t: Int) => probeTilesBc.value.contains(t) }
    val rtc = r.select(ownerTile(col(X1), col(Y1), col(X2), col(Y2)).as(Tile),
      col(X1).as("__rx1"), col(Y1).as("__ry1"),
      col(X2).as("__rx2"), col(Y2).as("__ry2"))
      .where(inProbeTiles(col(Tile)))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col(Tile)).orderBy(
          xxhash64(col("__rx1"), col("__ry1"), col("__rx2"), col("__ry2")).asc,
          col("__rx1").asc, col("__ry1").asc)))
      .where(col("__pr") <= probeTileCap).drop("__pr")
    val lu = l.join(unsafeRadii, Seq(leftId))
      .withColumn("__ot", ownerTile(col(X1), col(Y1), col(X2), col(Y2)))
    // probe metric = envelope MAX distance (far corners): an upper bound
    // on the geometry distance per candidate, so the k-th smallest over
    // ≥ k candidates upper-bounds the row's true k-th NN — exact for
    // point data, looser only by geometry extents.
    // Up to 1M capped candidates (tiling-sized, the same bound that made
    // the relation broadcastable) the probe phase is a single map: the
    // capped candidates are collected once and each left's k-th probe
    // distance comes from a k-bounded heap over its ring tiles' broadcast
    // arrays — no probe join, no per-left rank exchange, no join-back by
    // leftId (the 3-D knnCore's probe shape; the k-th smallest of any ≥ k
    // candidate subset is a valid bound, so no sort or tie-break is
    // needed). Past 1M the relational window form carries the
    // giant-tiling case.
    val luP = if (probeTiles.size.toLong * probeTileCap <= cfg.probeCollectMax) {
      val packed = rtc
        .select(col(Tile), col("__rx1"), col("__ry1"), col("__rx2"), col("__ry2"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (t, rs) =>
          val a = new Array[Double](rs.length * 4)
          var i = 0
          rs.foreach { row =>
            var j = 0
            while (j < 4) { a(i + j) = row.getDouble(1 + j); j += 1 }
            i += 4
          }
          t -> a
        }
      val candBc = spark.sparkContext.broadcast(packed)
      val ringSetsBc = spark.sparkContext.broadcast(ringSets)
      val kk = k
      val probeKth = udf { (ot: Int, x1: Double, y1: Double,
                            x2: Double, y2: Double) =>
        val sets = ringSetsBc.value
        if (ot < 0 || ot >= sets.length || sets(ot).isEmpty)
          null.asInstanceOf[java.lang.Double]
        else {
          val heap = new graft.functions.KthHeap(kk)
          sets(ot).foreach { t =>
            candBc.value.get(t) match {
              case Some(a) =>
                var i = 0
                while (i < a.length) {
                  // same max-distance arithmetic as the relational form
                  val dx = math.max(x2 - a(i), a(i + 2) - x1)
                  val dy = math.max(y2 - a(i + 1), a(i + 3) - y1)
                  heap.insert(math.sqrt(dx * dx + dy * dy))
                  i += 4
                }
              case None => ()
            }
          }
          if (heap.n < kk) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(heap.arr(0))
        }
      }
      lu.withColumn("__pd",
        probeKth(col("__ot"), col(X1), col(Y1), col(X2), col(Y2)))
    } else {
      // relational probe (whole-stage codegen). The k-th distance comes
      // from the kth_smallest BOUNDED-HEAP AGGREGATE, not a window rank:
      // partial aggregation runs map-side on the join output (≤ k doubles
      // per left cross the wire) and nothing is ever sorted. The previous
      // row_number form had to SORT the whole exploded probe relation —
      // lefts × ringTiles × cap rows — inside whatever partitioning AQE
      // had sized for the join's slim INPUTS; at the sf10 area lane that
      // was ~10⁸ rows in 4 coalesced partitions, the executor starved its
      // heartbeats for 10 minutes and the JVM self-terminated. Identical
      // semantics: k-th smallest including duplicates, null when fewer
      // than k candidates arrived (the rank===k row simply didn't exist
      // before, and the left join produced the same null).
      val mdx = greatest(col(X2) - col("__rx1"), col("__rx2") - col(X1))
      val mdy = greatest(col(Y2) - col("__ry1"), col("__ry2") - col(Y1))
      val probeRad = lu.select(col(leftId), col("__ot"),
          col(X1), col(Y1), col(X2), col(Y2))
        .join(broadcast(probeDf), Seq("__ot"))
        .withColumn(Tile, col("__pt"))
        .join(rtc.hint("shuffle_hash"), Seq(Tile))
        .withColumn("__pd", sqrt(mdx * mdx + mdy * mdy))
        .groupBy(col(leftId))
        .agg(graft.functions.kth_smallest(col("__pd"), k).as("__pd"))
      lu.join(probeRad, Seq(leftId), "left")
    }

    // pass-2 replication prunes to tiles some right ENVELOPE touches: a
    // pair's refpoint lies inside the right's envelope, so its emitting
    // tile is always envelope-occupied — replicas into right-empty tiles
    // (the bulk of a sparse space) carry no information and only inflate
    // the refine shuffle
    val envOccupied = r
      .select(explode(tileIds(col(X1), col(Y1), col(X2), col(Y2))).as("__t"))
      .distinct().collect().map(_.getInt(0)).toSet
    // …and the pruning happens INSIDE the enumeration: an STRtree over just
    // the occupied tile boundaries (tiny — bounded by the tiling), walked
    // with a branch-and-bound on the EUCLIDEAN gap to the row's ORIGINAL
    // envelope. One UDF call per left row replaces explode-all-box-tiles +
    // occupied-filter + ball-filter (three per-replica calls over ~every
    // tile intersecting the expanded box — for a far left in a sparse
    // space that box covers most of the tiling, while its ball grazes a
    // handful of cluster-edge tiles; measured as the map-side hot stages
    // of the knn2d 100× rehearsal).
    val occTree = {
      val t = new STRtree()
      envOccupied.foreach { id =>
        val m = index.tileById(id).mbb
        t.insert(new Envelope(m.xmin, m.xmax, m.ymin, m.ymax), Integer.valueOf(id))
      }
      t.build()
      t
    }
    val occTreeBc = spark.sparkContext.broadcast(occTree)
    val occEmpty = envOccupied.isEmpty

    // ---------------- pass 2: radius-bounded candidate join on the
    // remainder. Radius = min(k-th local distance/cap, per-row ring bound
    // + own half-diagonal, exact probe k-th distance) — least() skips the
    // null components (no ring plan / fewer than k parseable probes)
    val l2 = luP
      .withColumn("__rr", ringRadRow(
        (col(X1) + col(X2)) / 2, (col(Y1) + col(Y2)) / 2, col("__ot")))
      .withColumn(Rad, least(col(Rad), col("__rr") + halfDiag, col("__pd")))
      // relative float slack: the probe radius is column sqrt(dx²+dy²)
      // but pass-2 distances come from JTS (Math.hypot internally), which
      // can land one ulp HIGHER for the very candidate that defined the
      // radius — without the pad, that row's k-th neighbor fails d ≤ rad
      // by 1 ulp and silently vanishes (caught by the sparse-region
      // spec). Padding only ever ADMITS extra candidates; the exact rank
      // filter drops them
      .withColumn(Rad, col(Rad) + lit(1e-9) * (lit(1.0) + abs(col(Rad))))
      .drop("__ot", "__rr", "__pd")
      .withColumn(X1, col(X1) - col(Rad)).withColumn(Y1, col(Y1) - col(Rad))
      .withColumn(X2, col(X2) + col(Rad)).withColumn(Y2, col(Y2) + col(Rad))
    // ball prune: a replica tile must lie within EUCLIDEAN distance rad of
    // the row's ORIGINAL envelope (recovered as expanded ∓ rad), not just
    // inside the expanded box — the box corners reach rad·√2 and, for a
    // left far from a clustered right region, cover the WHOLE cluster
    // while its k-ball (rad = exact probe k-th distance) grazes only the
    // near edge. Loss-free because the emitting refpoint below is the
    // nearest point of the right envelope to the left envelope:
    // dist(ref, lEnv) = minDist(lEnv, rEnv) ≤ d(g1,g2) ≤ rad, so the
    // refpoint's owner tile always survives this filter (1e-9 slack
    // absorbs float rounding; slack only ADDS tiles). Measured in the
    // knn2d 100× rehearsal: pass-2 shuffle 23 GB spill → bounded.
    val ballTilesOf = (ex1: Double, ey1: Double, ex2: Double, ey2: Double, rad: Double) => {
      val ox1 = ex1 + rad; val oy1 = ey1 + rad
      val ox2 = ex2 - rad; val oy2 = ey2 - rad
      val rr = rad + 1e-9; val rr2 = rr * rr
      val out = new scala.collection.mutable.ArrayBuilder.ofInt
      def visit(b: Boundable): Unit = {
        val e = b.getBounds.asInstanceOf[Envelope]
        val dx = math.max(0.0, math.max(e.getMinX - ox2, ox1 - e.getMaxX))
        val dy = math.max(0.0, math.max(e.getMinY - oy2, oy1 - e.getMaxY))
        if (dx * dx + dy * dy <= rr2) b match {
          case n: AbstractNode =>
            val cs = n.getChildBoundables
            var j = 0
            while (j < cs.size()) { visit(cs.get(j).asInstanceOf[Boundable]); j += 1 }
          case it: ItemBoundable =>
            out += it.getItem.asInstanceOf[Integer].intValue
        }
      }
      if (!occEmpty) visit(occTreeBc.value.getRoot)
      out.result()
    }
    val ballTiles = udf(ballTilesOf)
    // pass-2 hot-key sharding: under clustered rights, ~every starved left
    // replicates to the same few cluster-edge tiles, so the plain tile key
    // skews the refine into a handful of straggler tasks (measured in the
    // knn2d 100× rehearsal: 872 s of pass-2 CPU, one task holding 570 s
    // of it — the corner tiles facing the bulk of the sparse lefts carry
    // ~everything). Composite (tile, shard) keys — [[join]]'s protocol —
    // spread it: each LEFT picks one shard by content hash of its row,
    // rights replicate to every shard of each tile they touch. Shard counts
    // are ADAPTIVE, from the exact per-tile replica loads: the
    // radius-resolved left relation is copied once, by its own SQL
    // execution (the refine reads it again — without the copy the whole
    // probe phase would recompute) and one bounded aggregate (≤ occupied
    // tiles rows) prices each tile at ceil(load / target), where the
    // target is one refine slot's share of the load, so uniform data keeps
    // 1 shard everywhere and pays only the counting scan, while a hot
    // corner tile splits ∝ its measured load up to MaxShards. The loads
    // also weigh the refine slots.
    val (l2p, l2Rows) = Bridge.filled(l2)
    val ballTilesCol =
      ballTiles(col(X1), col(Y1), col(X2), col(Y2), col(Rad))
    val tileLoads = l2p.select(explode(ballTilesCol).as(Tile))
      .groupBy(col(Tile)).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val target = math.max(20000L, tileLoads.valuesIterator.sum /
      (TasksPerCore.toLong * spark.sparkContext.defaultParallelism))
    val sharded = index.withCounts(tileLoads.collect { case (t, c) if c > target =>
      t -> math.min(TileIndex.MaxShards.toLong, (c + target - 1) / target).toInt
    }, tileLoads)
    val shardBc = spark.sparkContext.broadcast(sharded)
    val Seq(e1, e2, e3, e4, radIdx) = Seq(X1, Y1, X2, Y2, Rad).map(l2p.schema.fieldIndex)
    val lt2Keys = (row: InternalRow) => {
      val h = row.hashCode.toLong
      ballTilesOf(row.getDouble(e1), row.getDouble(e2), row.getDouble(e3), row.getDouble(e4),
        row.getDouble(radIdx)).iterator.map(shardBc.value.probeKey(_, h))
    }
    val rEnv = Seq(X1, Y1, X2, Y2).map(r.schema.fieldIndex)
    val rt2Keys = (row: InternalRow) => shardBc.value.buildKeys(row.getDouble(rEnv(0)),
      row.getDouble(rEnv(1)), row.getDouble(rEnv(2)), row.getDouble(rEnv(3))).iterator
    // the refine stage's layouts: slot, key, then the frames' columns
    val (l2A, r2A) = (attrsOf(l2p), attrsOf(r))
    val (l2K, r2K) = (keyed(l2A), keyed(r2A))
    val l2Geom = l2p.schema.fieldIndex(leftGeom) + 2; val r2Geom = r.schema.fieldIndex(rightGeom) + 2
    val l2Env = Seq(e1, e2, e3, e4).map(_ + 2); val r2Env = rEnv.map(_ + 2)
    val l2Out = lOutCols.toSeq.map(c => l2K(l2p.schema.fieldIndex(c) + 2))
    val r2Out = rOutCols.toSeq.map(c => r2K(r.schema.fieldIndex(c) + 2))

    val candRows = slotCogroup(spark, sharded, l2p.queryExecution.toRdd, l2A, lt2Keys,
        r.queryExecution.toRdd, r2A, rt2Keys)(rowTree(r2Geom, r2Env)) { () =>
      val knnRow = knnRows(l2Out, l2K, r2Out, r2K)
      (tree, lrow) => {
        val g1 =
          if (tree.isEmpty) null
          else GeometryCodec.fromWkb(lrow.getBinary(l2Geom))
        if (g1 == null) Iterator.empty
        else {
          val idx = bc.value
          val tile = (lrow.getLong(1) / TileIndex.MaxShards).toInt
          val rad = lrow.getDouble(radIdx + 2)
          val px1 = lrow.getDouble(l2Env(0)); val py1 = lrow.getDouble(l2Env(1))
          val px2 = lrow.getDouble(l2Env(2)); val py2 = lrow.getDouble(l2Env(3))
          // ball-bounded branch-and-bound over the tile tree: descend only
          // nodes whose EUCLIDEAN envelope gap to the row's ORIGINAL envelope
          // is ≤ rad. A Chebyshev-box query here admitted every right in the
          // expanded box — for a far left whose ball grazes a clustered
          // region that is ~the whole tile, each hit paying a per-item gap
          // check (the pass-2 refine was the hottest stage of the knn2d 100×
          // rehearsal); the bound prunes whole subtrees instead.
          // gap(lEnv, rEnv) ≤ d(g1, g2) always, so pruning on it is
          // loss-free (1e-9 slack for rounding); each rejected item also
          // saves a ~100× costlier DistanceOp.
          val ox1 = px1 + rad; val oy1 = py1 + rad
          val ox2 = px2 - rad; val oy2 = py2 - rad
          val rSlack = rad + 1e-9; val rr2 = rSlack * rSlack
          val out = Vector.newBuilder[InternalRow]
          def visit(node: Boundable): Unit = {
            val e = node.getBounds.asInstanceOf[Envelope]
            val gx = math.max(0.0, math.max(e.getMinX - ox2, ox1 - e.getMaxX))
            val gy = math.max(0.0, math.max(e.getMinY - oy2, oy1 - e.getMaxY))
            if (gx * gx + gy * gy <= rr2) node match {
              case n: AbstractNode =>
                val cs = n.getChildBoundables
                var j = 0
                while (j < cs.size()) { visit(cs.get(j).asInstanceOf[Boundable]); j += 1 }
              case item: ItemBoundable =>
                val (g2, rrow) = item.getItem.asInstanceOf[(Geometry, InternalRow)]
                val d = g1.distance(g2)
                if (d <= rad) {
                  // refpoint = nearest point of the RIGHT envelope to the
                  // row's ORIGINAL envelope (overlap → its low edge, a
                  // deterministic pair function): it lies in the right
                  // envelope (tile is right-occupied) at dist =
                  // minDist(lEnv, rEnv) ≤ d ≤ rad from the left envelope, so
                  // its owner tile carries BOTH replicas under the ball prune
                  // above — each qualifying pair is emitted exactly once, by
                  // that tile
                  val rx0 = rrow.getDouble(r2Env(0)); val ry0 = rrow.getDouble(r2Env(1))
                  val rx1 = rrow.getDouble(r2Env(2)); val ry1 = rrow.getDouble(r2Env(3))
                  val refx = if (rx0 > ox2) rx0 else if (rx1 < ox1) rx1
                             else math.max(ox1, rx0)
                  val refy = if (ry0 > oy2) ry0 else if (ry1 < oy1) ry1
                             else math.max(oy1, ry0)
                  if (idx.refTile(refx, refy) == tile)
                    out += knnRow(lrow, rrow, d, 0).copy()
                }
            }
          }
          visit(tree.getRoot)
          out.result().iterator
        }
      }
    }
    val cands = Bridge.frame(spark, candRows, p1.schema)

    // nulls LAST to agree with knnBroadcast's cmpAny — Spark's plain .asc is
    // nulls-first, which would rank null-tieBreak ties differently depending
    // on which physical path (broadcast vs tiled) the join took
    val order = col("knn_dist").asc +: tieBreak.map(col(_).asc_nulls_last)
    val pass2 = cands
      .withColumn("knn_rank",
        row_number().over(Window.partitionBy(col(leftId)).orderBy(order: _*)))
      .where(col("knn_rank") <= k)
    CacheHygiene.releaseAfterFirstJob(spark.sparkContext, p1Rows)(
      Seq(l2Rows, p1Rows, lCopy, rCopy).foreach(_.unpersist(blocking = false)))
    safe.unionByName(pass2)
  }

  /** J13 bounded-distance kNN (the reference's st_nearest,
    * knn_2d.hpp:113-217): for each left row, the k nearest right rows with
    * distance strictly below `maxDistance`. Ranks stay consecutive from 1:
    * the distance bound removes a suffix of each row's distance-sorted
    * neighbor list, never a middle element. Unlike the reference (tile-local
    * probe of an MBB expanded by d), this is globally exact — built on
    * [[knnJoinExact]] with the pass-2 search radius CLAMPED to d: a
    * starved owner tile searches min(space diagonal, d), so at scale a
    * sparse region replicates probes only to the tiles within d, never to
    * the whole space. */
  def knnJoinBounded(left: DataFrame, leftGeom: String, leftId: String,
                     right: DataFrame, rightGeom: String, k: Int,
                     maxDistance: Double,
                     tieBreak: Seq[String] = Seq.empty,
                     cfg: Config = Config()): DataFrame =
    knnJoinExact(left, leftGeom, leftId, right, rightGeom, k, tieBreak, cfg,
        maxDistance = maxDistance)
      .where(col("knn_dist") < maxDistance)

  /** Broadcast exact kNN: the whole (small) right side ships to every task
    * as one [[KnnTile]]; each left row takes every right row within its
    * k-th distance (ties at the boundary included) and ranks them under the
    * caller's (distance, tieBreak) order. No shuffle, no tiling,
    * deterministic ties. Rows whose geometry is null, unparseable, empty or
    * non-finite take no part, as on the tiled path, whose envelopes drop
    * them. */
  private def knnBroadcast(left: DataFrame, leftGeom: String,
                           right: DataFrame, rightGeom: String,
                           rRows: Array[Row], k: Int,
                           tieBreak: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    val rSchema = right.schema
    val rGeomIdx = rSchema.fieldIndex(rightGeom)
    val tieIdx = tieBreak.map(rSchema.fieldIndex).toArray
    val bc = spark.sparkContext.broadcast(rRows)
    val lSchema = left.schema
    val lGeomIdx = lSchema.fieldIndex(leftGeom)
    val outSchema = StructType(
      lSchema.fields.map(_.copy(nullable = true)) ++
        rSchema.fields.map(_.copy(nullable = true)) :+
        StructField("knn_dist", DoubleType, nullable = false) :+
        StructField("knn_rank", IntegerType, nullable = false))

    def cmpAny(a: Any, b: Any): Int =
      if (a == null && b == null) 0
      else if (a == null) 1
      else if (b == null) -1
      else a.asInstanceOf[Comparable[Any]].compareTo(b)

    implicit val rowEnc = Encoders.row(outSchema)
    left.mapPartitions { rows =>
      // deserialize the broadcast side once per partition, into one
      // KnnTile: O(L log R) instead of the O(L x R) scan that cost 17.6x
      // wall for 10x data at the threshold's 300k x 10k shape (SCALE.md
      // sf1 step)
      val items = bc.value.flatMap { row =>
        located(GeometryCodec.fromWkb(row.getAs[Array[Byte]](rGeomIdx))).map((_, row))
      }
      val tile = new KnnTile(items.map(_._1))
      val ord = new Ordering[(Double, Row)] {
        override def compare(x: (Double, Row), y: (Double, Row)): Int = {
          val c = java.lang.Double.compare(x._1, y._1)
          if (c != 0) c
          else {
            var i = 0
            while (i < tieIdx.length) {
              val cc = cmpAny(x._2.get(tieIdx(i)), y._2.get(tieIdx(i)))
              if (cc != 0) return cc
              i += 1
            }
            0
          }
        }
      }
      rows.flatMap { lrow =>
        located(GeometryCodec.fromWkb(lrow.getAs[Array[Byte]](lGeomIdx))) match {
          case Some(g1) if items.nonEmpty =>
            val near = tile.nearest(g1, k)
            val dk = near(math.min(k, near.length) - 1)._1
            val lVals = lrow.toSeq
            near.iterator.takeWhile(_._1 <= dk).map { case (d, p) => (d, items(p)._2) }
              .toSeq.sorted(ord).take(k)
              .iterator.zipWithIndex.map { case ((d, rrow), i) =>
                Row.fromSeq(lVals ++ rrow.toSeq :+ d :+ (i + 1))
              }
          case _ => Iterator.empty
        }
      }
    }.toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }
}
