package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.index.strtree.{AbstractNode, Boundable, ItemBoundable, STRtree}

import graft.core.{CacheHygiene, Geo, GeometryCodec, GeomPredicates, Mbb, TileBoundary}
import graft.functions.{st_envelope, st_geomfromwkt}
import graft.partition.SpatialPartitioner

/** Tile-partitioned spatial join — the Spark-native re-expression of the
  * reference's whole spjoin pipeline
  * (/root/reference/src/framework/query_spjoin.hpp:70-322):
  *
  *   MBB-extract job      -> one min/max/count aggregate
  *   sample+partition job -> driver-side partitioner over a seeded sample
  *   cache-file tile idx  -> broadcast [[TileIndex]] (padded to cover space)
  *   map-to-tile job      -> explode over broadcast index (1 row -> N tiles)
  *   RESQUE reducer       -> cogroup per tile: STRtree filter + exact refine
  *   sort+uniq dedup job  -> reference-point emit (no extra shuffle); the
  *                           reference's global sort+uniq is kept as the
  *                           optional `dedup = "global"` mode
  *
  * All stages live in ONE Spark DAG; the only materialization barriers are
  * the stats aggregate and the sample collect (the adaptive step the
  * reference also performs, with a forced single reducer,
  * queryprocessor_2d.cpp:286-293); they and the cogroup read one persisted
  * copy of each side. SQL joins ([[org.apache.spark.sql.graft.SpatialJoinStrategy]]) run it too.
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
    * @param dedup      refpoint|global|none (refpoint is exact for every
    *                   partitioner because the tile index covers the space)
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
      seed: Long = 42L,
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
  private val X1 = "__xmin"; private val Y1 = "__ymin"
  private val X2 = "__xmax"; private val Y2 = "__ymax"
  private val Rad = "__rad"
  private val LId = "__lid"; private val RId = "__rid"

  /** Adds envelope columns derived from the WKB geometry column `geom`;
    * drops rows with null/unparseable geometry (reference P3/P4 behavior).
    * Non-finite and empty envelopes are ALSO null here: the check lives
    * inside the st_envelope kernel (GeomKernels.envelope), where the four
    * doubles are already in hand — a relational isnan/Inf filter on these
    * columns measured 2.2x on every join gate (pushdown substitutes the
    * st_envelope alias into each condition, re-parsing the WKB per
    * condition). */
  private def withEnv(df: DataFrame, geom: String, expand: Double): DataFrame = {
    val e = st_envelope(col(geom))
    val d = lit(expand)
    df.withColumn("__env", e)
      .where(col("__env").isNotNull)
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
    * windows legitimately wrap). */
  private def withEnvEarthMeters(df: DataFrame, geom: String,
                                 meters: Double): DataFrame = {
    val dLat = Geo.latDegrees(meters)
    df.withColumn("__env", st_envelope(col(geom)))
      .where(col("__env").isNotNull)
      .withColumn("__phimax",
        greatest(abs(col("__env.ymin")), abs(col("__env.ymax"))) + lit(dLat))
      .withColumn("__dlon",
        when(col("__phimax") >= 89.9, lit(360.0))
          .otherwise(least(lit(360.0),
            degrees(asin(least(lit(1.0),
              sin(lit(meters / (2.0 * Geo.EarthRadiusMeters))) /
                cos(radians(col("__phimax")))))) * lit(2.0 * Geo.BoundSafety))))
      .withColumn(X1, col("__env.xmin") - col("__dlon"))
      .withColumn(Y1, col("__env.ymin") - lit(dLat))
      .withColumn(X2, col("__env.xmax") + col("__dlon"))
      .withColumn(Y2, col("__env.ymax") + lit(dLat))
      .drop("__env", "__phimax", "__dlon")
  }

  /** Shared entry-point argument validation: a malformed config must fail
    * with a targeted message BEFORE any job runs, never distort results
    * (round-14 verdict #7). `SpatialPartitioner(name)` already rejects
    * unknown partitioner names with its own targeted error. */
  private def validate(cfg: Config): Unit = {
    require(cfg.bucket >= 0,
      s"bucket must be >= 0 (0 = auto-size from row count), got ${cfg.bucket}")
    require(cfg.sampleTarget > 0,
      s"sampleTarget must be positive, got ${cfg.sampleTarget}")
    require(cfg.distance >= 0.0 && !cfg.distance.isNaN &&
        !cfg.distance.isInfinite,
      s"distance must be a finite value >= 0, got ${cfg.distance}")
  }

  /** Plan tiles from a seeded sample of both inputs' MBBs. Returns the tile
    * index to broadcast. Mirrors spjoin steps 2-4 (query_spjoin.hpp:74-230). */
  def planTiles(l: DataFrame, r: DataFrame, cfg: Config): TileIndex = {
    val cols = Seq(X1, Y1, X2, Y2).map(col)
    val mbbs = l.select(cols: _*).unionAll(r.select(cols: _*))
    // one plain RDD job per planning aggregate over the (non-null) MBBs; a
    // DataFrame aggregate adds a SQL execution and an adaptive job per exchange
    val (space, n) = mbbs.queryExecution.toRdd.aggregate((Mbb.empty, 0L))(
      (acc, m) => (acc._1.union(Mbb(m.getDouble(0), m.getDouble(1), m.getDouble(2), m.getDouble(3))),
                   acc._2 + 1),
      (a, b) => (a._1.union(b._1), a._2 + b._2))
    if (n == 0)
      return new TileIndex(Array(TileBoundary(0, Mbb(0, 0, 1, 1))), Mbb(0, 0, 1, 1))
    val spark = l.sparkSession
    val bucket = if (cfg.bucket > 0) cfg.bucket
      else math.max(1000L, n / (spark.sparkContext.defaultParallelism.toLong * 4)).toInt
    // hc_dist: fully distributed Hilbert tiling over the WHOLE relation
    // (no driver sample) — the 100 TB path (SURVEY G5)
    if (cfg.partitioner == "hc_dist") {
      val tiles = graft.partition.DistributedHilbert.tiles(
        mbbs.select(col(X1).as("xmin"), col(Y1).as("ymin"),
          col(X2).as("xmax"), col(Y2).as("ymax")), space, n, bucket)
      return new TileIndex(tiles, space)
    }
    // str_dist: fully distributed STR packing over the WHOLE relation (two
    // distributed sorts, no driver sample) — the 100 TB path (SURVEY G4)
    if (cfg.partitioner == "str_dist") {
      val tiles = graft.partition.DistributedStr.tiles(
        mbbs.select(col(X1).as("xmin"), col(Y1).as("ymin"),
          col(X2).as("xmax"), col(Y2).as("ymax")), n, bucket)
      return new TileIndex(tiles, space)
    }
    // slc_dist: fully distributed strip-line chop (one distributed sort,
    // only the cut abscissas reach the driver) — SURVEY G6 at 100 TB
    if (cfg.partitioner == "slc_dist") {
      val tiles = graft.partition.DistributedSlc.tiles(
        mbbs.select(col(X1).as("xmin"), col(Y1).as("ymin"),
          col(X2).as("xmax"), col(Y2).as("ymax")), space, n, bucket)
      return new TileIndex(tiles, space)
    }
    // qt_dist / bsp_dist: recursive splits driven by one EXACT count
    // histogram (bounded collect) instead of a driver sample — G3/G2 at
    // 100 TB
    if (cfg.partitioner == "qt_dist" || cfg.partitioner == "bsp_dist") {
      val counts = graft.partition.DistributedHisto.histogram(
        mbbs.select(col(X1).as("xmin"), col(Y1).as("ymin"),
          col(X2).as("xmax"), col(Y2).as("ymax")), space)
      val tiles =
        if (cfg.partitioner == "qt_dist")
          graft.partition.DistributedHisto.qtTiles(counts, space, bucket)
        else graft.partition.DistributedHisto.bspTiles(counts, space, bucket)
      return new TileIndex(tiles, space)
    }
    // bos_dist: strip carving on the exact histogram plus four bounded
    // marginal tables for the crossing cost — G7 at 100 TB. All five
    // tables come from ONE fused aggregate (one scan, one shuffle).
    if (cfg.partitioner == "bos_dist") {
      val env = mbbs.select(col(X1).as("xmin"), col(Y1).as("ymin"),
        col(X2).as("xmax"), col(Y2).as("ymax"))
      val (counts, cross) = graft.partition.DistributedHisto.allHistograms(env, space)
      val tiles = graft.partition.DistributedHisto.bosTiles(counts, cross, space, bucket)
      return new TileIndex(tiles, space)
    }
    // fg depends on the input only through its row count, which the stats
    // aggregate above already computed EXACTLY — no sample scan, no
    // sampled-count jitter (tiles = ceil(n/bucket), the arithmetic the
    // partition-stats oracles re-derive). Hot-tile shard detection runs
    // as a second bounded aggregate over the CLOSED-FORM fg tile id (pure
    // column arithmetic, ≤ tiles output rows) — exact counts, where the
    // sampled path under-detects hotspots once the sample fraction drops
    // at scale. twoLevel still samples: its hot-tile refinement needs
    // member envelopes.
    if (cfg.partitioner == "fg" && !cfg.twoLevel) {
      val tiles = graft.partition.FixedGridPartitioner.partitionCount(n, space, bucket)
      val shards: Map[Int, Int] =
        if (cfg.hotTileFactor <= 0) Map.empty
        else {
          val (sx, sy) = graft.partition.FixedGridPartitioner.gridDims(n, space, bucket)
          val w = math.max(space.width, 1e-12); val h = math.max(space.height, 1e-12)
          def ax(c: org.apache.spark.sql.Column, lo: Double, span: Double, s: Int) =
            greatest(lit(0), least(lit(s - 1),
              floor((c - lit(lo)) / lit(span) * s).cast("int")))
          val tileId =
            ax(((col(Y1) + col(Y2)) / 2), space.ymin, h, sy) * sx +
            ax(((col(X1) + col(X2)) / 2), space.xmin, w, sx)
          val hotAt = cfg.hotTileFactor.toLong * bucket
          val counts = mbbs.select(tileId).queryExecution.toRdd
            .mapPartitions { rows =>
              val c = scala.collection.mutable.HashMap.empty[Int, Long]
              rows.foreach(row => c(row.getInt(0)) = c.getOrElse(row.getInt(0), 0L) + 1)
              Iterator.single(c)
            }
            .reduce { (a, b) => b.foreach { case (t, k) => a(t) = a.getOrElse(t, 0L) + k }; a }
          counts.iterator.collect { case (t, c) if c > hotAt =>
            t -> math.min(TileIndex.MaxShards, math.ceil(2.0 * c / hotAt).toInt)
          }.toMap
        }
      return new TileIndex(tiles, space, shards)
    }
    val fraction = math.min(1.0, cfg.sampleTarget.toDouble / n)
    val sample = mbbs.sample(withReplacement = false, fraction, cfg.seed)
      .limit(cfg.sampleTarget * 2)
      .collect()
      .map(row => Mbb(row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3)))
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
    // be tamed by more tiles: shard their probe side instead (salting).
    val covered = new TileIndex(tiles, space)
    val shards: Map[Int, Int] =
      if (cfg.hotTileFactor <= 0) Map.empty
      else {
        val counts = scala.collection.mutable.Map.empty[Int, Int]
        sample.foreach { m =>
          val t = covered.refTile(m.centerX, m.centerY)
          if (t >= 0) counts(t) = counts.getOrElse(t, 0) + 1
        }
        val hotAt = cfg.hotTileFactor.toLong * scaledBucket
        counts.iterator.collect {
          case (t, c) if c > hotAt =>
            t -> math.min(TileIndex.MaxShards,
              math.ceil(2.0 * c / hotAt).toInt)
        }.toMap
      }
    if (shards.isEmpty) covered else new TileIndex(covered.tiles, space, shards)
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
    * columns, one row per matched pair (deduped across tiles). */
  def join(left: DataFrame, leftGeom: String,
           right: DataFrame, rightGeom: String,
           cfg: Config = Config()): DataFrame = {
    val spark = left.sparkSession
    validate(cfg)
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column name collision between join sides: $dup")

    // global dedup keys pairs by per-side unique ids so value-identical input
    // rows survive (plain dropDuplicates over all columns would merge them).
    // The positional ids are FROZEN by an eager localCheckpoint: a partial
    // stage retry then replays stored blocks instead of re-running
    // monotonically_increasing_id with a different row order (the
    // SPARK-23207 lost/duplicated-pair class); losing a checkpointed block
    // fails the job loudly rather than silently re-keying pairs. Cost is
    // one materialization of each side, paid only in this opt-in mode.
    val useGlobal = cfg.dedup == "global"
    val (left0, right0) =
      if (useGlobal)
        (left.withColumn(LId, monotonically_increasing_id()).localCheckpoint(true),
         right.withColumn(RId, monotonically_increasing_id()).localCheckpoint(true))
      else (left, right)

    // probe-side MBB expansion (spjoin_2d.hpp:61-66); earth mode converts
    // the meter distance to conservative per-row DEGREE windows instead of
    // expanding by meters-as-degrees (see withEnvEarthMeters — the refine
    // threshold below stays in meters, so results are unchanged)
    val refineDist = if (cfg.predicate == "dwithin") cfg.distance else 0.0
    val lEnv =
      if (cfg.predicate == "dwithin" && cfg.earth)
        withEnvEarthMeters(left0, leftGeom, cfg.distance)
      else withEnv(left0, leftGeom, refineDist)
    val rEnv = withEnv(right0, rightGeom, 0.0)

    // st_equals implies envelope equality, so the complete candidate set is
    // a plain hash EQUI-join on the four envelope coordinates — no tiling,
    // no replication, no per-tile index; Catalyst shuffles (or broadcasts)
    // by the envelope key and the exact equalsTopo test refines. Strictly
    // better than the reference's tile plan at any scale, with identical
    // results (envelope-equal pairs always share every tile).
    if (cfg.predicate == "equals") {
      val keys = Seq(X1, Y1, X2, Y2)
      val out0 = lEnv.join(rEnv, keys)
        .where(graft.functions.st_equals(col(leftGeom), col(rightGeom)))
        .select((left0.columns ++ right0.columns).map(col).toIndexedSeq: _*)
      val out = if (cfg.keepTile) out0.withColumn("tile_id", lit(-1)) else out0
      return if (useGlobal) out.dropDuplicates(LId, RId).drop(LId, RId)
             else out
    }

    // each side is read ONCE: planning's aggregates and the cogroup all
    // scan a persisted copy of the enveloped rows instead of re-running the
    // input plan per job (for a text source, re-parsing the file). The
    // copies are freed once the query consuming this join has run.
    val (l, lCopy) = Bridge.persisted(lEnv)
    val (r, rCopy) = Bridge.persisted(rEnv)
    val index = planTiles(l, r, cfg)
    Seq(lCopy, rCopy).foreach(c =>
      CacheHygiene.releaseAfterFirstJob(spark.sparkContext, c)(c.unpersist(blocking = false)))
    val bc = spark.sparkContext.broadcast(index)

    // composite (tile, shard) keys: probe rows land on one shard per tile,
    // build rows replicate to every shard of a hot tile (salting)
    val probeKeys = udf { (x1: Double, y1: Double, x2: Double, y2: Double, salt: Long) =>
      bc.value.probeKeys(x1, y1, x2, y2, salt)
    }
    val buildKeys = udf { (x1: Double, y1: Double, x2: Double, y2: Double) =>
      bc.value.buildKeys(x1, y1, x2, y2)
    }
    // hot-tile shard salt must be DETERMINISTIC under stage re-execution
    // (monotonically_increasing_id depends on partition layout/row order, so
    // a partial map-stage retry could re-salt rows onto shards reducers
    // already fetched — the SPARK-23207 lost/duplicated-rows class). Hash
    // the row content instead: recomputation reproduces identical keys.
    val lt = l.withColumn("__salt",
        xxhash64(col(X1), col(Y1), col(X2), col(Y2), col(leftGeom)))
      .withColumn(Tile,
        explode(probeKeys(col(X1), col(Y1), col(X2), col(Y2), col("__salt"))))
    val rt = r.withColumn(Tile,
      explode(buildKeys(col(X1), col(Y1), col(X2), col(Y2))))
    val lOutCols = left0.columns
    val rOutCols = right0.columns
    val keepTile = cfg.keepTile
    val outSchema0 = StructType(
      lOutCols.map(left0.schema(_)) ++ rOutCols.map(right0.schema(_)))
    val outSchema =
      if (keepTile) outSchema0.add("tile_id", IntegerType, nullable = false)
      else outSchema0

    val ltSchema = lt.schema; val rtSchema = rt.schema
    val lTileIdx = ltSchema.fieldIndex(Tile); val rTileIdx = rtSchema.fieldIndex(Tile)
    val lGeomIdx = ltSchema.fieldIndex(leftGeom); val rGeomIdx = rtSchema.fieldIndex(rightGeom)
    val lEnvIdx = Seq(X1, Y1, X2, Y2).map(ltSchema.fieldIndex)
    val rEnvIdx = Seq(X1, Y1, X2, Y2).map(rtSchema.fieldIndex)
    val lKeep = lOutCols.map(ltSchema.fieldIndex)
    val rKeep = rOutCols.map(rtSchema.fieldIndex)
    val predicate = cfg.predicate
    val useRefPoint = !useGlobal && cfg.dedup != "none"

    implicit val longEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.row(outSchema)
    val lkv = lt.groupByKey(_.getLong(lTileIdx))
    val rkv = rt.groupByKey(_.getLong(rTileIdx))

    val joined = lkv.cogroup(rkv) { (key: Long, ls: Iterator[Row], rs: Iterator[Row]) =>
      val tile = (key / TileIndex.MaxShards).toInt
      // index set 2, probe set 1 — same sides as RESQUE (spjoin_2d.hpp:34-50)
      val tree = new STRtree()
      var rCount = 0
      rs.foreach { row =>
        val g = GeometryCodec.fromWkb(row.getAs[Array[Byte]](rGeomIdx))
        if (g != null) {
          val e = new Envelope(row.getDouble(rEnvIdx(0)), row.getDouble(rEnvIdx(2)),
                               row.getDouble(rEnvIdx(1)), row.getDouble(rEnvIdx(3)))
          tree.insert(e, (g, row)); rCount += 1
        }
      }
      if (rCount == 0) Iterator.empty
      else {
        tree.build()
        val idx = bc.value
        ls.flatMap { lrow =>
          val g1 = GeometryCodec.fromWkb(lrow.getAs[Array[Byte]](lGeomIdx))
          if (g1 == null) Iterator.empty
          else {
            val px1 = lrow.getDouble(lEnvIdx(0)); val py1 = lrow.getDouble(lEnvIdx(1))
            val px2 = lrow.getDouble(lEnvIdx(2)); val py2 = lrow.getDouble(lEnvIdx(3))
            val probe = new Envelope(px1, px2, py1, py2)
            val hits = tree.query(probe)
            val out = Vector.newBuilder[Row]
            var i = 0
            while (i < hits.size()) {
              val (g2, rrow) = hits.get(i).asInstanceOf[(Geometry, Row)]
              if (GeomPredicates.eval(predicate, g1, g2, refineDist, cfg.earth)) {
                val emit = if (!useRefPoint) true else {
                  // bottom-left corner of probe-env ∩ build-env intersection
                  val refx = math.max(px1, rrow.getDouble(rEnvIdx(0)))
                  val refy = math.max(py1, rrow.getDouble(rEnvIdx(1)))
                  idx.refTile(refx, refy) == tile
                }
                if (emit) {
                  val vals = new Array[Any](
                    lKeep.length + rKeep.length + (if (keepTile) 1 else 0))
                  var k = 0
                  while (k < lKeep.length) { vals(k) = lrow.get(lKeep(k)); k += 1 }
                  var m = 0
                  while (m < rKeep.length) { vals(k + m) = rrow.get(rKeep(m)); m += 1 }
                  if (keepTile) vals(k + m) = tile
                  out += Row.fromSeq(vals.toIndexedSeq)
                }
              }
              i += 1
            }
            out.result().iterator
          }
        }
      }
    }
    val out0 = joined.toDF()
    // global-dedup replicas of one pair differ ONLY in tile_id — normalize
    // to the min tile so dropDuplicates' arbitrary row choice cannot leak
    // a run-dependent tile id into the output
    val out =
      if (useGlobal && keepTile)
        out0.withColumn("tile_id",
          min(col("tile_id")).over(Window.partitionBy(col(LId), col(RId))))
      else out0
    if (useGlobal) out.dropDuplicates(LId, RId).drop(LId, RId) else out
  }

  /** Tile-local kNN join (reference st_nearest2, knn_2d.hpp:22-233): every
    * left row is assigned to exactly ONE tile (the owner of its envelope
    * center) and matched with its k nearest right rows *in that tile* —
    * reproducing the reference's tile-local caveat without the reference's
    * cross-tile duplicate emission. Output = left cols ++ right cols ++
    * `knn_dist`. */
  def knnJoin(left: DataFrame, leftGeom: String,
              right: DataFrame, rightGeom: String,
              k: Int, cfg: Config = Config()): DataFrame = {
    val spark = left.sparkSession
    validate(cfg)
    require(k >= 1, s"k must be >= 1, got $k")
    val l = withEnv(left, leftGeom, 0.0)
    val r = withEnv(right, rightGeom, 0.0)
    val index = planTiles(l, r, cfg)
    val bc = spark.sparkContext.broadcast(index)
    // left: single owner tile (envelope center); right: replicated to all
    // intersecting tiles so boundary-spanning neighbors are still seen
    val ownerTile = udf { (x1: Double, y1: Double, x2: Double, y2: Double) =>
      bc.value.refTile((x1 + x2) / 2, (y1 + y2) / 2)
    }
    val tileIds = udf { (x1: Double, y1: Double, x2: Double, y2: Double) =>
      bc.value.tilesFor(x1, y1, x2, y2)
    }
    val lt = l.withColumn(Tile, ownerTile(col(X1), col(Y1), col(X2), col(Y2)))
    val rt = r.withColumn(Tile, explode(tileIds(col(X1), col(Y1), col(X2), col(Y2))))
    val lOutCols = left.columns; val rOutCols = right.columns
    val outSchema = StructType(
      lOutCols.map(left.schema(_)) ++ rOutCols.map(right.schema(_)) :+
        StructField("knn_dist", DoubleType, nullable = false))
    val ltSchema = lt.schema; val rtSchema = rt.schema
    val lTileIdx = ltSchema.fieldIndex(Tile); val rTileIdx = rtSchema.fieldIndex(Tile)
    val lGeomIdx = ltSchema.fieldIndex(leftGeom); val rGeomIdx = rtSchema.fieldIndex(rightGeom)
    val lKeep = lOutCols.map(ltSchema.fieldIndex)
    val rKeep = rOutCols.map(rtSchema.fieldIndex)

    implicit val intEnc = Encoders.scalaInt
    implicit val rowEnc = Encoders.row(outSchema)
    val lkv = lt.groupByKey(_.getInt(lTileIdx))
    val rkv = rt.groupByKey(_.getInt(rTileIdx))
    lkv.cogroup(rkv) { (_: Int, ls: Iterator[Row], rs: Iterator[Row]) =>
      import scala.jdk.CollectionConverters._
      val items = rs.flatMap { row =>
        val g = GeometryCodec.fromWkb(row.getAs[Array[Byte]](rGeomIdx))
        if (g == null) None else Some((g, row))
      }.toArray
      if (items.isEmpty) Iterator.empty
      else {
        // per-tile STRtree probe (the reference's own R-tree shape,
        // knn_2d.hpp:146-179): branch-and-bound finds the k-th distance,
        // then one envelope query collects the (>= k, tie-inclusive)
        // candidate set. O(|L| log |R|) per tile instead of the former
        // full scan + full sort (O(|L|*|R|) distance evals — bucket^2 work
        // per tile at the auto bucket). Deterministic ordering is kept
        // identical to the old plan: (dist, arrival position). Lazy: a
        // tile with |R| <= k answers every left row by the brute branch
        // below and must not pay the tree build.
        lazy val (tree, dataDiag) = {
          val t = new STRtree()
          val dataEnv = new Envelope()
          var p = 0
          while (p < items.length) {
            val (g, row) = items(p)
            t.insert(g.getEnvelopeInternal, (g, row, p))
            dataEnv.expandToInclude(g.getEnvelopeInternal)
            p += 1
          }
          t.build()
          // radius-growth floor/ceiling for the re-query loop below
          (t, math.sqrt(dataEnv.getWidth * dataEnv.getWidth +
            dataEnv.getHeight * dataEnv.getHeight))
        }
        lazy val itemDist = new org.locationtech.jts.index.strtree.ItemDistance {
          override def distance(a: ItemBoundable, b: ItemBoundable): Double =
            a.getItem.asInstanceOf[(Geometry, Row, Int)]._1
              .distance(b.getItem.asInstanceOf[(Geometry, Row, Int)]._1)
        }
        ls.flatMap { lrow =>
          val g1 = GeometryCodec.fromWkb(lrow.getAs[Array[Byte]](lGeomIdx))
          if (g1 == null) Iterator.empty
          else {
            val top: Array[(Double, Row)] =
              if (items.length <= k) {
                items.zipWithIndex
                  .map { case ((g2, rrow), pos) => (g1.distance(g2), rrow, pos) }
                  .sortBy { case (d, _, pos) => (d, pos) }
                  .map { case (d, rrow, _) => (d, rrow) }
              } else {
                // branch-and-bound SEED radius: the max distance among the
                // k items JTS's kNN returns. Seed only — JTS's
                // nearestNeighbourK can return the same item twice (so its
                // max may undershoot the true k-th distance); the loop
                // below re-queries with a doubled radius until the k-th
                // candidate provably lies inside the query radius, which
                // makes the result exact regardless.
                val seed = tree.nearestNeighbour(g1.getEnvelopeInternal,
                    (g1, null.asInstanceOf[Row], -1), itemDist, k)
                  .iterator.map(o =>
                    g1.distance(o.asInstanceOf[(Geometry, Row, Int)]._1))
                  .max
                var r = seed
                var res: Array[(Double, Row)] = null
                while (res == null) {
                  val env = g1.getEnvelopeInternal.copy(); env.expandBy(r)
                  val cand = tree.query(env).asScala
                    .map(_.asInstanceOf[(Geometry, Row, Int)])
                    .map { case (g2, rrow, pos) => (g1.distance(g2), rrow, pos) }
                    .toArray
                    .sortBy { case (d, _, pos) => (d, pos) }
                  // exact iff the k-th candidate is within r (nothing
                  // outside the envelope can beat it) or the query already
                  // covered the whole tile
                  if ((cand.length >= k && cand(k - 1)._1 <= r) ||
                      cand.length == items.length)
                    res = cand.take(k).map { case (d, rrow, _) => (d, rrow) }
                  else
                    r = math.max(r * 2, dataDiag / 1024)
                }
                res
              }
            top.iterator.map { case (d, rrow) =>
              val vals = new Array[Any](lKeep.length + rKeep.length + 1)
              var i = 0
              while (i < lKeep.length) { vals(i) = lrow.get(lKeep(i)); i += 1 }
              var j = 0
              while (j < rKeep.length) { vals(i + j) = rrow.get(rKeep(j)); j += 1 }
              vals(i + j) = d
              Row.fromSeq(vals.toIndexedSeq)
            }
          }
        }
      }
    }.toDF()
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
    * tile-local st_nearest2. One tiling, two cogroup passes:
    *
    *   1. tile-local kNN over each left row's owner tile. A left row is
    *      SAFE — its local top-k is provably the global top-k — when its
    *      k-th local distance is smaller than the distance from its
    *      envelope to the owner tile's boundary (every unseen right row is
    *      farther) and no distance tie makes ranks ambiguous. Safe rows are
    *      emitted final, with ranks, straight from pass 1.
    *   2. only the unsafe remainder (boundary-adjacent rows, tied ranks,
    *      tiles with < k right rows) re-joins with a per-row radius bound:
    *      the k-th local distance, tightened by the owner tile's
    *      density-planned ring radius (tileRingRadii — the smallest set of
    *      tiles holding ≥ k right centers); starved tiles search that ring
    *      instead of the space diagonal. Reference-point deduped, then a
    *      window top-k.
    *
    * `leftId` must uniquely key left rows. `tieBreak` columns (right side)
    * order equal distances deterministically. Output = left cols ++ right
    * cols ++ knn_dist ++ knn_rank.
    */
  def knnJoinExact(left: DataFrame, leftGeom: String, leftId: String,
                   right: DataFrame, rightGeom: String, k: Int,
                   tieBreak: Seq[String] = Seq.empty,
                   cfg: Config = Config(),
                   maxDistance: Double = Double.PositiveInfinity): DataFrame = {
    val spark = left.sparkSession
    validate(cfg)
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDistance > 0 && !maxDistance.isNaN,
      s"maxDistance must be positive (PositiveInfinity = unbounded), got $maxDistance")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column name collision between join sides: $dup")

    // Small right side (dim-table shape): broadcast it and scan left once —
    // exact global kNN with ZERO shuffles (the plan a hand-tuned engine
    // would pick; Catalyst's broadcast-join analog for kNN).
    if (cfg.knnBroadcastThreshold > 0) {
      val probe = right.limit(cfg.knnBroadcastThreshold + 1).collect()
      if (probe.length <= cfg.knnBroadcastThreshold)
        return knnBroadcast(left, leftGeom, right, rightGeom, probe, k, tieBreak)
    }

    val l = withEnv(left, leftGeom, 0.0)
    val r = withEnv(right, rightGeom, 0.0)
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
    // nullable right fields: pass-1 marker rows carry null right columns
    val outSchema = StructType(
      lOutCols.map(f => left.schema(f).copy(nullable = true)) ++
        rOutCols.map(f => right.schema(f).copy(nullable = true)) :+
        StructField("knn_dist", DoubleType, nullable = false) :+
        StructField("knn_rank", IntegerType, nullable = false))

    // ---------------- pass 1: owner-tile kNN + safety classification
    val lt1 = l.withColumn(Tile, ownerTile(col(X1), col(Y1), col(X2), col(Y2)))
    val rt1 = r.withColumn(Tile, explode(tileIds(col(X1), col(Y1), col(X2), col(Y2))))
    val lt1S = lt1.schema; val rt1S = rt1.schema
    val l1Tile = lt1S.fieldIndex(Tile); val r1Tile = rt1S.fieldIndex(Tile)
    val l1Geom = lt1S.fieldIndex(leftGeom); val r1Geom = rt1S.fieldIndex(rightGeom)
    val l1Env = Seq(X1, Y1, X2, Y2).map(lt1S.fieldIndex)
    val l1Keep = lOutCols.map(lt1S.fieldIndex)
    val r1Keep = rOutCols.map(rt1S.fieldIndex)
    val nR = rOutCols.length

    implicit val intEnc = Encoders.scalaInt
    implicit val rowEnc = Encoders.row(outSchema)
    val p1 = lt1.groupByKey(_.getInt(l1Tile))
      .cogroup(rt1.groupByKey(_.getInt(r1Tile))) { (tile, ls, rs) =>
        val items = rs.flatMap { row =>
          val g = GeometryCodec.fromWkb(row.getAs[Array[Byte]](r1Geom))
          if (g == null) None else Some((g, row))
        }.toArray
        val tb = bc.value.tileById(tile).mbb
        ls.flatMap { lrow =>
          val g1 = GeometryCodec.fromWkb(lrow.getAs[Array[Byte]](l1Geom))
          if (g1 == null) Iterator.empty
          else {
            def emit(rrow: Row, d: Double, rank: Int): Row = {
              val vals = new Array[Any](l1Keep.length + nR + 2)
              var a = 0
              while (a < l1Keep.length) { vals(a) = lrow.get(l1Keep(a)); a += 1 }
              var b = 0
              while (b < nR) {
                vals(a + b) = if (rrow == null) null else rrow.get(r1Keep(b)); b += 1
              }
              vals(a + b) = d; vals(a + b + 1) = rank
              Row.fromSeq(vals.toIndexedSeq)
            }
            if (items.length < k) Iterator.single(emit(null, -1.0, -1))
            else {
              val sorted = items.map { case (g2, rrow) => (g1.distance(g2), rrow) }
                .zipWithIndex.sortBy { case ((d, _), pos) => (d, pos) }
              val dk = sorted(k - 1)._1._1
              // envelope gap to the owner tile's boundary (conservative)
              val edge = math.min(
                math.min(lrow.getDouble(l1Env(0)) - tb.xmin,
                         tb.xmax - lrow.getDouble(l1Env(2))),
                math.min(lrow.getDouble(l1Env(1)) - tb.ymin,
                         tb.ymax - lrow.getDouble(l1Env(3))))
              val tieAtBoundary = sorted.length > k && sorted(k)._1._1 == dk
              val internalTie =
                (1 until k).exists(i => sorted(i)._1._1 == sorted(i - 1)._1._1)
              if (dk < edge && !tieAtBoundary && !internalTie)
                sorted.iterator.take(k).zipWithIndex.map {
                  case (((d, rrow), _), i) => emit(rrow, d, i + 1)
                }
              else Iterator.single(emit(null, dk, -1))
            }
          }
        }
      }.toDF()
      // consumed twice (safe rows + unsafeRadii): without a persist the
      // whole owner-tile cogroup — STRtree build + per-row sorts — would
      // recompute per consumer. Released after the consuming query
      // (CacheHygiene) so long-lived sessions don't accumulate blocks.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialization barrier (keyOverlapPairs discipline): safe and
    // unsafeRadii are concurrent subtrees of the final plan — a lazy
    // persist read by both would race its own cache population and run
    // the owner-tile cogroup twice
    p1.count()

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
    // the cogroup shuffle
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
    val ballTiles = udf { (ex1: Double, ey1: Double,
                           ex2: Double, ey2: Double, rad: Double) =>
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
    // pass-2 hot-key sharding: under clustered rights, ~every starved left
    // replicates to the same few cluster-edge tiles, so the plain tile key
    // skews the cogroup into a handful of straggler tasks (measured in the
    // knn2d 100× rehearsal: 872 s of pass-2 CPU, one task holding 570 s
    // of it — the corner tiles facing the bulk of the sparse lefts carry
    // ~everything). Composite (tile, shard) keys — the spjoin path's
    // probeKeys/buildKeys protocol — spread it: each LEFT picks one shard
    // by content hash of its id, rights replicate to every shard of each
    // tile they touch. Shard counts are ADAPTIVE, from the exact per-tile
    // replica loads: the radius-resolved left relation is persisted (it is
    // consumed again by the cogroup below — without the persist the whole
    // probe phase would recompute) and one bounded aggregate (≤ occupied
    // tiles rows) prices each tile at ceil(load / target), so uniform data
    // keeps 1 shard everywhere and pays only the counting scan, while a
    // hot corner tile splits ∝ its measured load up to MaxShards.
    val CKey = "__ck"
    val l2p = l2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ballTilesCol =
      ballTiles(col(X1), col(Y1), col(X2), col(Y2), col(Rad))
    val tileLoads = l2p.select(explode(ballTilesCol).as(Tile))
      .groupBy(col(Tile)).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val shardOf: Map[Int, Int] = {
      val sp = spark.sessionState.conf.numShufflePartitions
      val target = math.max(20000L, tileLoads.valuesIterator.sum / (4L * sp))
      tileLoads.map { case (t, c) =>
        t -> math.min(TileIndex.MaxShards.toLong,
          math.max(1L, (c + target - 1) / target)).toInt
      }
    }
    val shardOfBc = spark.sparkContext.broadcast(shardOf)
    val lShardKey = udf { (t: Int, h: Long) =>
      val s = shardOfBc.value.getOrElse(t, 1)
      t.toLong * TileIndex.MaxShards +
        (if (s <= 1) 0L else java.lang.Long.remainderUnsigned(h, s))
    }
    val rShardKeys = udf { (t: Int) =>
      val s = shardOfBc.value.getOrElse(t, 1)
      Array.tabulate(s)(i => t.toLong * TileIndex.MaxShards + i)
    }
    val lt2 = l2p.withColumn(Tile, explode(ballTilesCol))
      .withColumn(CKey, lShardKey(col(Tile), xxhash64(col(leftId))))
    val rt2 = r.withColumn(Tile, explode(tileIds(col(X1), col(Y1), col(X2), col(Y2))))
      .withColumn(CKey, explode(rShardKeys(col(Tile))))
    val lt2S = lt2.schema; val rt2S = rt2.schema
    val l2Key = lt2S.fieldIndex(CKey); val r2Key = rt2S.fieldIndex(CKey)
    val l2Geom = lt2S.fieldIndex(leftGeom); val r2Geom = rt2S.fieldIndex(rightGeom)
    val l2Env = Seq(X1, Y1, X2, Y2).map(lt2S.fieldIndex)
    val r2Env = Seq(X1, Y1, X2, Y2).map(rt2S.fieldIndex)
    val radIdx = lt2S.fieldIndex(Rad)
    val l2Keep = lOutCols.map(lt2S.fieldIndex)
    val r2Keep = rOutCols.map(rt2S.fieldIndex)

    implicit val longEnc = Encoders.scalaLong
    val cands = lt2.groupByKey(_.getLong(l2Key))
      .cogroup(rt2.groupByKey(_.getLong(r2Key))) { (key, ls, rs) =>
        val tile = (key / TileIndex.MaxShards).toInt
        val tree = new STRtree()
        var rCount = 0
        rs.foreach { row =>
          val g = GeometryCodec.fromWkb(row.getAs[Array[Byte]](r2Geom))
          if (g != null) {
            val e = new Envelope(row.getDouble(r2Env(0)), row.getDouble(r2Env(2)),
                                 row.getDouble(r2Env(1)), row.getDouble(r2Env(3)))
            tree.insert(e, (g, row)); rCount += 1
          }
        }
        if (rCount == 0) Iterator.empty
        else {
          tree.build()
          val idx = bc.value
          ls.flatMap { lrow =>
            val g1 = GeometryCodec.fromWkb(lrow.getAs[Array[Byte]](l2Geom))
            if (g1 == null) Iterator.empty
            else {
              val rad = lrow.getDouble(radIdx)
              val px1 = lrow.getDouble(l2Env(0)); val py1 = lrow.getDouble(l2Env(1))
              val px2 = lrow.getDouble(l2Env(2)); val py2 = lrow.getDouble(l2Env(3))
              // ball-bounded branch-and-bound over the tile tree: descend
              // only nodes whose EUCLIDEAN envelope gap to the row's
              // ORIGINAL envelope is ≤ rad. A Chebyshev-box query here
              // admitted every right in the expanded box — for a far left
              // whose ball grazes a clustered region that is ~the whole
              // tile, each hit paying a per-item gap check (the pass-2
      	      // cogroup was the hottest stage of the knn2d 100×
              // rehearsal); the bound prunes whole subtrees instead.
              // gap(lEnv, rEnv) ≤ d(g1, g2) always, so pruning on it is
              // loss-free (1e-9 slack for rounding); each rejected item
              // also saves a ~100× costlier DistanceOp.
              val ox1 = px1 + rad; val oy1 = py1 + rad
              val ox2 = px2 - rad; val oy2 = py2 - rad
              val rSlack = rad + 1e-9; val rr2 = rSlack * rSlack
              val out = Vector.newBuilder[Row]
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
                    val (g2, rrow) = item.getItem.asInstanceOf[(Geometry, Row)]
                    val d = g1.distance(g2)
                    if (d <= rad) {
                      // refpoint = nearest point of the RIGHT envelope to
                      // the row's ORIGINAL envelope (overlap → its low
                      // edge, a deterministic pair function): it lies in
                      // the right envelope (tile is right-occupied) at
                      // dist = minDist(lEnv, rEnv) ≤ d ≤ rad from the left
                      // envelope, so its owner tile carries BOTH replicas
                      // under the ball prune above — each qualifying pair
                      // is emitted exactly once, by that tile
                      val rx0 = rrow.getDouble(r2Env(0)); val ry0 = rrow.getDouble(r2Env(1))
                      val rx1 = rrow.getDouble(r2Env(2)); val ry1 = rrow.getDouble(r2Env(3))
                      val refx = if (rx0 > ox2) rx0 else if (rx1 < ox1) rx1
                                 else math.max(ox1, rx0)
                      val refy = if (ry0 > oy2) ry0 else if (ry1 < oy1) ry1
                                 else math.max(oy1, ry0)
                      if (idx.refTile(refx, refy) == tile) {
                        val vals = new Array[Any](l2Keep.length + r2Keep.length + 2)
                        var a = 0
                        while (a < l2Keep.length) { vals(a) = lrow.get(l2Keep(a)); a += 1 }
                        var b = 0
                        while (b < r2Keep.length) { vals(a + b) = rrow.get(r2Keep(b)); b += 1 }
                        vals(a + b) = d; vals(a + b + 1) = 0
                        out += Row.fromSeq(vals.toIndexedSeq)
                      }
                    }
                }
              }
              visit(tree.getRoot)
              out.result().iterator
            }
          }
        }
      }.toDF()

    // nulls LAST to agree with knnBroadcast's cmpAny — Spark's plain .asc is
    // nulls-first, which would rank null-tieBreak ties differently depending
    // on which physical path (broadcast vs tiled) the join took
    val order = col("knn_dist").asc +: tieBreak.map(col(_).asc_nulls_last)
    val pass2 = cands
      .withColumn("knn_rank",
        row_number().over(Window.partitionBy(col(leftId)).orderBy(order: _*)))
      .where(col("knn_rank") <= k)
    CacheHygiene.releaseAfterFirstJob(spark.sparkContext, Bridge.cachedRdd(p1))(
      Seq(l2p, p1).foreach(_.unpersist(blocking = false)))
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

  /** Broadcast exact kNN: the whole (small) right side ships to every task;
    * each left partition scans it with a bounded (dist, tieBreak) selection.
    * No shuffle, no tiling, deterministic ties. */
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
      import scala.jdk.CollectionConverters._
      // deserialize the broadcast side once per partition, into an STRtree:
      // the old linear scan was O(L x R) distance calls — fine at the
      // gate's 15k x 1k, 6e9 calls at the threshold's 300k x 10k shape
      // (17.6x wall for 10x data, SCALE.md sf1 step). Branch-and-bound
      // kNN is O(L log R).
      val items = bc.value.flatMap { row =>
        val g = GeometryCodec.fromWkb(row.getAs[Array[Byte]](rGeomIdx))
        if (g == null) None else Some((g, row))
      }
      val tree = new org.locationtech.jts.index.strtree.STRtree()
      items.foreach { case (g, row) => tree.insert(g.getEnvelopeInternal, (g, row)) }
      if (items.nonEmpty) tree.build()
      val itemDist = new org.locationtech.jts.index.strtree.ItemDistance {
        override def distance(a: org.locationtech.jts.index.strtree.ItemBoundable,
                              b: org.locationtech.jts.index.strtree.ItemBoundable): Double =
          a.getItem.asInstanceOf[(Geometry, Row)]._1
            .distance(b.getItem.asInstanceOf[(Geometry, Row)]._1)
      }
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
        val g1 = GeometryCodec.fromWkb(lrow.getAs[Array[Byte]](lGeomIdx))
        if (g1 == null || items.isEmpty) Iterator.empty
        else {
          // phase 1: the k-th smallest distance (a unique order statistic,
          // however JTS breaks its internal ties) via branch-and-bound
          val dk =
            if (items.length <= k) Double.MaxValue
            else tree.nearestNeighbour(g1.getEnvelopeInternal,
                (g1, null.asInstanceOf[Row]), itemDist, k)
              .iterator.map(o => g1.distance(o.asInstanceOf[(Geometry, Row)]._1))
              .max
          // phase 2: ALL rights within dk (>= k rows — dk-distance ties
          // included), ranked under the caller's deterministic
          // (distance, tieBreak) order — tie handling identical to the
          // distributed path's
          val cands =
            if (dk == Double.MaxValue) items.toSeq
            else {
              val env = g1.getEnvelopeInternal.copy(); env.expandBy(dk)
              tree.query(env).asScala.toSeq
                .map(_.asInstanceOf[(Geometry, Row)])
            }
          val lVals = lrow.toSeq
          cands.iterator.map { case (g2, rrow) => (g1.distance(g2), rrow) }
            .filter(_._1 <= dk)
            .toSeq.sorted(ord).take(k)
            .iterator.zipWithIndex.map { case ((d, rrow), i) =>
              Row.fromSeq(lVals ++ rrow.toSeq :+ d :+ (i + 1))
            }
        }
      }
    }.toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }
}
