package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.core.{Mbb, TileBoundary}
import graft.functions.{st_envelope, st_intersects, withNonNull}
import graft.operators.{SpatialJoin, TileIndex}

/** Spatially partitioned table layout — the Spark re-expression of the
  * reference's `partition` + `containment` lifecycles
  * (/root/reference/src/framework/query_partition.hpp:77-293,
  * query_containment.hpp:62-163):
  *
  *   per-tile .dat files        -> range-clustered parquet under `data/`
  *   partition.idx + info.cfg   -> _graft_meta.json (tiles + space + conf)
  *   driver tile-pruning scan   -> tile set -> per-file (min_tile,
  *                                 max_tile) manifest selects the files
  *   boundary-object replication -> explode to intersecting tiles at write;
  *                                 reads dedup on the stored __row_id
  *
  * One layout, written in bulk by [[write]] and appended to by
  * [[graft.streaming.SpatialIngest]]. At scale this gives containment
  * queries that touch only the files of window-intersecting tiles — the
  * same I/O win as the reference's global index, with one manifest read
  * instead of a listing per tile.
  */
object SpatialStore {

  private[graft] val MetaFile = "_graft_meta.json"
  private[sources] val DataDir = "data"
  private val ManifestDir = "_graft_manifest"
  private val LegacyManifest3d = "_graft_manifest3d"

  /** Store layout format version, stamped into `_graft_meta.json` (both
    * stores) since round 15. History: v1 = the unstamped rounds ≤14
    * (read compatibly — absent stamp parses as 1); v2 = current
    * (manifest layout, bare-name manifest entries). Readers REFUSE
    * a version above this constant with a rebuild hint instead of
    * misreading a future layout (round-14 verdict #6 — the r13→r14
    * manifest format break cost a debugging session because nothing
    * stamped the format). */
  val FormatVersion = 2
  val TileCol = "tile_id"
  val RowIdCol = "__row_id"
  val RowId2Col = "__row_id2"

  /** True iff `dt` contains a MapType anywhere (maps are unhashable and
    * unordered, so they must be normalized before xxhash64). */
  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
    case _ => false
  }

  /** Rewrites every MapType under `c` — top-level or nested inside structs
    * and arrays — into a key-sorted entry array, recursively, so value-equal
    * maps with different internal order hash identically and xxhash64 never
    * sees an unhashable type. Struct rebuilds keep null-ness (a null struct
    * must not become a struct of nulls — that would alias two different
    * rows). */
  private def hashable(c: org.apache.spark.sql.Column,
                       dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = dt match {
    case m: org.apache.spark.sql.types.MapType =>
      array_sort(transform(map_entries(c), e =>
        struct(hashable(e.getField("key"), m.keyType).as("key"),
               hashable(e.getField("value"), m.valueType).as("value"))))
    case s: org.apache.spark.sql.types.StructType if containsMap(s) =>
      when(c.isNull, lit(null)).otherwise(
        struct(s.fields.map(f => hashable(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case a: org.apache.spark.sql.types.ArrayType if containsMap(a.elementType) =>
      transform(c, x => hashable(x, a.elementType))
    case _ => c
  }

  /** Content-derived 128-bit row identity: two independent xxhash64 lanes
    * over every input column (the second salted). Deterministic under task
    * retry; the read-side replica dedup keys on BOTH lanes, so a
    * distinct-row collision needs a simultaneous 128-bit collision
    * (~n²/2^129 — negligible at any realistic row count, where a single
    * 64-bit lane would already lose rows at tens of billions).
    * MapType columns — top-level or nested — enter the hash as key-sorted
    * entry arrays (see [[hashable]]).
    *
    * `preserveDuplicates`: content identity makes the store collapse
    * value-identical rows on read (reference full-line uniq semantics).
    * Opting in salts the second lane with each row's rank among its
    * duplicates, so duplicates round-trip. The (id, rank) MULTISET is
    * deterministic under retry — which duplicate gets rank 2 is arbitrary,
    * but the rows are identical, so the output multiset is not. */
  private[graft] def withRowIds(df: DataFrame,
                                preserveDuplicates: Boolean = false): DataFrame = {
    val cols = df.schema.fields.map(f => hashable(col(f.name), f.dataType)).toIndexedSeq
    val base = df.withColumn(RowIdCol, xxhash64(cols: _*))
      .withColumn(RowId2Col, xxhash64((lit("graft:lane2") +: cols): _*))
    if (!preserveDuplicates) base
    else base.withColumn(RowId2Col,
      xxhash64(col(RowId2Col),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(RowIdCol), col(RowId2Col)).orderBy(col(RowIdCol)))))
  }

  final case class Meta(geomCol: String, space: Mbb, tiles: Array[TileBoundary])

  /** Write `df` spatially partitioned by `geomCol` (WKB). Objects spanning
    * tile boundaries are replicated to every intersecting tile (reference
    * manipulate_2d -m, query_partition.hpp:34-38); `__row_id` identifies
    * replicas for read-side dedup. The id is a CONTENT HASH (two xxhash64
    * lanes over every column, see [[withRowIds]]), so any task retry or
    * stage re-execution reproduces the identical id — no positional-id
    * (monotonically_increasing_id) retry-determinism caveat. Consequence:
    * value-identical input rows share an id and collapse to one on read —
    * exactly the reference's own full-line uniq semantics
    * (duplicate_remover.cpp:45-63, uniqpart). Callers whose data has no
    * unique key and who need duplicate rows to survive the round-trip opt
    * in with `preserveDuplicates` (rank-salted second lane, see
    * [[withRowIds]]).
    *
    * Layout: rows land as PLAIN parquet under `data/`, range-partitioned
    * on the tile id — one file per write task covering a contiguous tile
    * range — committed with ONE per-file (min_tile, max_tile) manifest
    * ([[writeRangeClustered]]). In-file ordering by tile id leaves parquet
    * row-group stats to finish the pruning inside surviving files. The
    * sf1b rehearsal measured this commit cost flat at 10× the tile count
    * (1.00×) where the retired Hive `tile_id=N/` dir layout paid one
    * dir+temp+rename per tile (2.55×); a read lists one manifest, not one
    * leaf per tile. At 100 TB: file count tracks writer count, not tile
    * count.
    *
    * The input is read ONCE: its row-id'd, enveloped rows are copied
    * ([[readOnce]]) and tile planning, the tile tag, the range
    * partitioner's sample and the write's map stage all scan that copy
    * instead of re-running the input plan (for a text source: the scan,
    * the WKT parse and the row-id hashes) per job. The copy is released
    * when the write returns or throws. */
  def write(df: DataFrame, geomCol: String, path: String,
            cfg: SpatialJoin.Config = SpatialJoin.Config(),
            preserveDuplicates: Boolean = false): Unit = {
    // on the caller's plan: the copy's plan has no file scan to check
    refuseSelfOverwrite(df, path, "write")
    readOnce(enveloped(df, geomCol, preserveDuplicates)) { rows =>
      val (tagged, index) = tileTagged(rows, cfg)
      writeRangeClustered(tagged, path)
      writeMeta(df.sparkSession, path, Meta(geomCol, index.space, index.tiles))
    }
  }

  /** The rows [[write]] copies: `df` with its row ids and the `__env`
    * envelope of `geomCol`, rows without one dropped. st_envelope is null
    * for unparseable WKB AND for empty/non-finite envelopes (the kernel
    * checks finiteness — see GeomKernels.envelope; a relational isnan
    * filter here re-parsed the WKB per condition under pushdown and cost
    * 2.1x on the store gates). The drop is a generator
    * ([[graft.functions.withNonNull]]) so pushdown cannot copy the envelope,
    * or a text source's WKT parse, into a filter: each runs once per row. */
  private[sources] def enveloped(df: DataFrame, geomCol: String,
                                 preserveDuplicates: Boolean): DataFrame =
    withNonNull(withRowIds(df, preserveDuplicates), "__env", st_envelope(col(geomCol)))

  /** Runs `body` over a persisted copy of `df`'s rows
    * ([[org.apache.spark.sql.graft.Bridge.persisted]]): every job `body`
    * starts reads the copy, which the first of them fills, instead of
    * re-running `df`'s plan. The copy keeps `df`'s partitioning and row
    * order, so a seeded sample or a range partitioner's sample over it
    * picks the same rows as over `df`. Released when `body` returns or
    * throws — callers run their whole write inside `body`. Shared by both
    * stores' writes and each [[graft.streaming.SpatialIngest]] microbatch. */
  private[graft] def readOnce(df: DataFrame)(body: DataFrame => Unit): Unit = {
    val (copy, rows) = Bridge.persisted(df)
    try body(copy) finally rows.unpersist(blocking = false)
  }

  /** Sampled tiling and boundary replication over `rows` — the copied
    * row-id'd rows with their non-null `__env` envelope: planning's
    * aggregates and the tag both scan the copy, so the input is read once.
    * [[write]]'s [[readOnce]] releases the copy after the tagged rows are
    * written. */
  private def tileTagged(rows: DataFrame, cfg: SpatialJoin.Config)
      : (DataFrame, TileIndex) = {
    val env = rows.select(col("__env.xmin").as("__xmin"), col("__env.ymin").as("__ymin"),
      col("__env.xmax").as("__xmax"), col("__env.ymax").as("__ymax"))
    val index = SpatialJoin.planTiles(env, env.limit(0), cfg)
    val bc = rows.sparkSession.sparkContext.broadcast(index)
    val tileIds = udf { (x1: Double, y1: Double, x2: Double, y2: Double) =>
      bc.value.tilesFor(x1, y1, x2, y2)
    }
    val tagged = rows
      .withColumn(TileCol, explode(tileIds(
        col("__env.xmin"), col("__env.ymin"), col("__env.xmax"), col("__env.ymax"))))
      .drop("__env")
    (tagged, index)
  }

  /** Refuse a store write whose INPUT scans the write target (round-14
    * advice: the natural-looking in-place rebuild
    * `write(SpatialStore.read(spark, p), ..., p)` overwrites `data/`
    * BEFORE the lazy scan runs — the write then fails mid-job, or with
    * `ignoreMissingFiles=true` silently produces an EMPTY store, in both
    * cases destroying the old data). The analyzed plan names every
    * file-scan root; any root equal to, under, or above the target is the
    * bug. Rebuild via a materialized copy: read → write to a FRESH path
    * (or plain parquet staging), then write the store from that. Both
    * stores' writes check the CALLER's `df`, before [[readOnce]] copies it:
    * the copy's plan names no file scan, so a check on it would pass
    * vacuously. */
  private[sources] def refuseSelfOverwrite(df: DataFrame, path: String,
                                           op: String): Unit = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    def qualified(p: Path): String =
      p.getFileSystem(hconf).makeQualified(p).toString.stripSuffix("/")
    val t = qualified(new Path(path))
    val offending = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths
          case _ => Nil
        }
    }.flatten.map(qualified)
      .filter(r => r == t || r.startsWith(t + "/") || t.startsWith(r + "/"))
    require(offending.isEmpty,
      s"SpatialStore.$op($path) would overwrite data its own input reads " +
        s"(input scans ${offending.headOption.getOrElse("")}): the write " +
        "clears the existing layout before the lazy scan runs, destroying " +
        "the source mid-write. Materialize the input first (write it to a " +
        "fresh location and read that back), or write the store to a " +
        "fresh path.")
  }

  /** Write half shared by the 2-D and 3-D stores and the streaming ingest:
    * the tile-tagged rows land as range-clustered plain parquet under
    * `path/data`, then manifest rows (file, min_tile, max_tile) for the
    * written files come from a single column-pruned scan of them. A bulk
    * write overwrites both halves; `append` (one microbatch of
    * [[graft.streaming.SpatialIngest]]) adds files beside the existing
    * ones and manifest rows for exactly the new files — the
    * [[ZoneMap.appendClustered]] discipline: existing data and manifest
    * rows are never rewritten. Manifest entries are bare FILE NAMES (all
    * data files sit directly under `data/`), so the store stays
    * relocatable — an absolute URI manifest would silently read the OLD
    * location after a copy/move. Callers pass `tagged` over a [[readOnce]]
    * copy, so the range sample and the write scan it, and a bulk write's
    * caller has already run [[refuseSelfOverwrite]] on its own input. */
  private[graft] def writeRangeClustered(tagged: DataFrame, path: String,
                                         append: Boolean = false): Unit = {
    val spark = tagged.sparkSession
    val dataPath = new Path(path, DataDir)
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] =
      if (!fs.exists(dataPath)) Set.empty
      else fs.listStatus(dataPath).iterator.map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
    val before = if (append) dataFiles() else Set.empty[String]
    val mode = if (append) "append" else "overwrite"
    tagged
      // row-id in the range key spreads a hot tile across file boundaries
      // instead of one giant task
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col(TileCol), col(RowIdCol))
      .sortWithinPartitions(col(TileCol), col(RowIdCol))
      .write.mode(mode).parquet(dataPath.toString)
    val written =
      if (append) (dataFiles() -- before).toSeq.map(f => new Path(dataPath, f).toString)
      else Seq(dataPath.toString)
    if (written.nonEmpty)
      spark.read.parquet(written: _*)
        .groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
        .agg(min(col(TileCol)).as("min_tile"), max(col(TileCol)).as("max_tile"))
        .coalesce(1).write.mode(mode).parquet(s"$path/$ManifestDir")
  }

  /** The loud failure for a path that does not hold both committed
    * halves, most specific first (one LIST of the root, on the failure
    * path only): a manifest without `data/` (a kill inside the data
    * overwrite's delete-then-write window, or a partial copy); the retired
    * round-13 3-D manifest format (absolute-URI entries under
    * `_graft_manifest3d` — not relocatable, superseded by bare-name
    * entries under `_graft_manifest`); the retired Hive `tile_id=N/` dir
    * layout; a torn write that committed data without a manifest. */
  private def uncommitted(fs: FileSystem, path: String): IllegalStateException = {
    val names =
      try fs.listStatus(new Path(path)).iterator.map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    new IllegalStateException(
      if (names(ManifestDir))
        s"$path has a committed manifest but no $DataDir/ (torn write or " +
          "partial copy) — re-run write to rebuild the store"
      else if (names(LegacyManifest3d))
        s"$path uses the retired _graft_manifest3d layout (absolute-URI " +
          "manifest entries); rebuild the store with write"
      else if (names.exists(_.startsWith(s"$TileCol=")))
        s"$path holds the retired Hive $TileCol=N/ dir layout, which this " +
          "build no longer reads; rebuild it with write — from a " +
          "materialized copy, or to a fresh path"
      else
        s"$path/$ManifestDir missing: the store has no committed manifest " +
          "(torn write?) — re-run write to heal it")
  }

  /** Selective scan shared by the 2-D and 3-D stores: collect the
    * manifest (bounded: one row per data file), keep the files whose
    * [min_tile, max_tile] range contains any wanted tile, and read only
    * those (resolved against `path/data`, so the manifest survives a
    * store move). Callers keep their `isin` filter as the exact belt.
    * Empty selection returns a schema-true empty relation. */
  private[sources] def manifestRead(spark: SparkSession, path: String,
                                    wanted: Seq[Int]): DataFrame = {
    val wantedSorted = wanted.toArray.sorted
    val dataPath = new Path(path, DataDir)
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path, ManifestDir))) throw uncommitted(fs, path)
    // torn-write guard: a kill between the data overwrite (which clears
    // data/ first) and the manifest commit leaves the PREVIOUS manifest
    // naming files that no longer exist — validate every manifest entry
    // against ONE flat listStatus of data/ (O(1) LIST calls, unlike a
    // per-leaf listing) and fail loudly; re-running write heals both
    // halves atomically enough (data overwrite clears data/, manifest
    // overwrite clears the names)
    val present =
      try fs.listStatus(dataPath).iterator.map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => throw uncommitted(fs, path) }
    val entries = spark.read.parquet(s"$path/$ManifestDir")
      .collect() // bounded: one row per data file
    val missing = entries.iterator
      .map(_.getAs[String]("file")).filterNot(present.contains).toSeq
    if (missing.nonEmpty) throw new IllegalStateException(
      s"$path: manifest names ${missing.length} file(s) absent from data/ " +
        s"(e.g. ${missing.take(3).mkString(", ")}) — stale manifest from a " +
        "torn write; re-run write to heal the store")
    val files = entries
      .filter { r =>
        val lo = r.getAs[Int]("min_tile"); val hi = r.getAs[Int]("max_tile")
        // any wanted tile inside [lo, hi]?
        val i = java.util.Arrays.binarySearch(wantedSorted, lo)
        val next = if (i >= 0) lo else {
          val ins = -i - 1
          if (ins < wantedSorted.length) wantedSorted(ins) else Int.MaxValue
        }
        next <= hi
      }
      .map(r => s"$path/$DataDir/${r.getAs[String]("file")}")
    if (files.isEmpty) spark.read.parquet(s"$path/$DataDir").limit(0)
    else spark.read.parquet(files.toIndexedSeq: _*)
  }

  /** Containment/window read: driver prunes tiles against the window MBB
    * (global-index scan, query_containment.hpp:112-139), the manifest
    * selects the files holding those tiles ([[manifestRead]]), the exact
    * predicate refines, and replica rows collapse on __row_id. `window` is
    * a WKB geometry literal. */
  def containmentRead(spark: SparkSession, path: String,
                      window: Array[Byte]): DataFrame = {
    val meta = readMeta(spark, path)
    val g = graft.core.GeometryCodec.fromWkb(window)
    require(g != null, "invalid window geometry")
    val e = g.getEnvelopeInternal
    val wanted = meta.tiles.iterator
      .filter(t => t.mbb.intersects(Mbb(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)))
      .map(_.tileId).toSeq
    manifestRead(spark, path, wanted)
      .where(col(TileCol).isin(wanted: _*))
      .where(st_intersects(col(meta.geomCol), lit(window)))
      .dropDuplicates(RowIdCol, RowId2Col)
      .drop(RowIdCol, RowId2Col, TileCol)
  }

  /** Multi-window batch containment: one scan of the store answers a whole
    * WINDOW SET (the reference's multi-window cache-file path, stubbed "To
    * be updated" at resque_2d.cpp:254-258, generalized). The window set is
    * a small side input — an STRtree over it broadcasts to every task, each
    * object probes the tree by envelope and refines exactly, and the scan
    * reads only the files holding the union of window-intersecting tiles
    * (driver global-index scan + manifest file pruning). Per-window
    * repeated [[containmentRead]] scans the store W times; this is one
    * pass for any W. Output: store columns + `widCol` (LongType), one row
    * per (window, object) hit, replicas collapsed per window.
    *
    * Bounded collect like [[graft.ann.Similarity.topKBrute]]: the window
    * relation must fit the driver/broadcast (`maxWindows` guard) — callers
    * with a window set that large want the tile-partitioned spatial join,
    * not a broadcast batch. */
  def multiWindowRead(spark: SparkSession, path: String,
                      windows: DataFrame, widCol: String, wgeomCol: String,
                      maxWindows: Int = 100000): DataFrame = {
    import scala.jdk.CollectionConverters._
    val meta = readMeta(spark, path)
    val wRows = windows.select(col(widCol).cast("long"), col(wgeomCol))
      .limit(maxWindows + 1).collect()
    require(wRows.length <= maxWindows,
      s"multiWindowRead broadcasts the window set; it has more than " +
        s"$maxWindows rows — use SpatialJoin for window relations at scale")
    val parsed = wRows.map { r =>
      require(!r.isNullAt(0), "null window id in the window relation")
      val g = graft.core.GeometryCodec.fromWkb(r.getAs[Array[Byte]](1))
      require(g != null, s"invalid window geometry for ${r.get(0)}")
      (r.getLong(0), g)
    }
    // driver global-index scan: tiles hit by ANY window (union, deduped)
    val wanted = meta.tiles.iterator.filter { t =>
      parsed.exists { case (_, g) =>
        val e = g.getEnvelopeInternal
        t.mbb.intersects(Mbb(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
      }
    }.map(_.tileId).toSeq
    val tree = new org.locationtech.jts.index.strtree.STRtree()
    parsed.foreach { case (wid, g) => tree.insert(g.getEnvelopeInternal, (wid, g)) }
    tree.build()
    val bc = spark.sparkContext.broadcast(tree)
    val hits = udf { (wkb: Array[Byte]) =>
      val g = graft.core.GeometryCodec.fromWkb(wkb)
      if (g == null) Array.empty[Long]
      else bc.value.query(g.getEnvelopeInternal).asScala
        .map(_.asInstanceOf[(Long, org.locationtech.jts.geom.Geometry)])
        .filter { case (_, wg) => wg.intersects(g) }
        .map(_._1).toArray.sorted
    }
    manifestRead(spark, path, wanted)
      .where(col(TileCol).isin(wanted: _*))
      .withColumn(widCol, explode(hits(col(meta.geomCol))))
      .dropDuplicates(widCol, RowIdCol, RowId2Col)
      .drop(RowIdCol, RowId2Col, TileCol)
  }

  /** Full-table scan of `data/` shared by both stores' [[read]]s: one
    * existence probe on the hot path; a missing `data/` fails with
    * [[uncommitted]]'s targeted message, not an opaque path-not-found
    * from the bare parquet read (round-14 advice #1). */
  private[sources] def dataScan(spark: SparkSession, path: String): DataFrame = {
    val dataPath = new Path(path, DataDir)
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dataPath)) throw uncommitted(fs, path)
    spark.read.parquet(dataPath.toString)
  }

  /** Full-table read with replicas collapsed. */
  def read(spark: SparkSession, path: String): DataFrame =
    dataScan(spark, path)
      .dropDuplicates(RowIdCol, RowId2Col)
      .drop(RowIdCol, RowId2Col, TileCol)

  // ---- metadata (partition.idx + info.cfg equivalent) ----

  def writeMeta(spark: SparkSession, path: String, meta: Meta): Unit = {
    val tiles = meta.tiles.map(t =>
      s"""[${t.tileId},${t.mbb.xmin},${t.mbb.ymin},${t.mbb.xmax},${t.mbb.ymax}]""")
      .mkString("[", ",", "]")
    val json =
      s"""{"format_version":$FormatVersion,"geom_col":"${meta.geomCol}","space":[${meta.space.xmin},${meta.space.ymin},${meta.space.xmax},${meta.space.ymax}],"tiles":$tiles}"""
    val p = new Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Shared version gate for both stores' readMeta: an absent stamp is
    * the pre-round-15 format (= 1, read compatibly); a stamp ABOVE
    * [[FormatVersion]] is a store written by a newer build — refuse
    * loudly instead of misreading its layout. */
  private[sources] def checkFormatVersion(json: String, path: String): Unit = {
    val ver = """"format_version":(\d+)""".r
      .findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(1)
    if (ver > FormatVersion) throw new IllegalStateException(
      s"$path: store format_version=$ver is newer than this build " +
        s"supports (<= $FormatVersion) — upgrade the library, or rebuild " +
        "the store with THIS build's write")
  }

  def readMeta(spark: SparkSession, path: String): Meta = {
    val p = new Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try new String(
      in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    checkFormatVersion(json, path)
    // fixed-shape JSON written by writeMeta; parse with a tiny hand parser
    // (no JSON library dependency)
    val geomCol = """"geom_col":"([^"]+)"""".r.findFirstMatchIn(json).get.group(1)
    val space = """"space":\[([^\]]+)\]""".r.findFirstMatchIn(json).get.group(1)
      .split(",").map(_.toDouble)
    val tiles = """\[(-?\d+),([^,\]]+),([^,\]]+),([^,\]]+),([^,\]]+)\]""".r
      .findAllMatchIn(json.substring(json.indexOf("\"tiles\":")))
      .map(m => TileBoundary(m.group(1).toInt,
        Mbb(m.group(2).toDouble, m.group(3).toDouble,
            m.group(4).toDouble, m.group(5).toDouble)))
      .toArray
    Meta(geomCol, Mbb(space(0), space(1), space(2), space(3)), tiles)
  }
}
