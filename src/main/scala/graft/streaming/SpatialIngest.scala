package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Mbb, TileBoundary}
import graft.functions.{st_envelope, st_geomfromwkt, withNonNull}
import graft.operators.TileIndex
import graft.sources.SpatialStore

/** Streaming spatial ingest — the incremental form of the `partition`
  * lifecycle ([[graft.sources.SpatialStore.write]], reference
  * query_partition.hpp:77-293): a stream of WKT records is parsed once at
  * the scan boundary, tile-tagged against a FIXED tile index, and each
  * microbatch appends to the store's one layout — range-clustered files
  * under `data/` plus manifest rows for exactly those files
  * ([[SpatialStore.writeRangeClustered]] in append mode). The index is
  * planned ahead of time (on a historical batch or a sample) and broadcast
  * once — tiles MUST be stable across microbatches and restarts, or the
  * meta/global index would lie about old files' tile ids.
  *
  * The tagged stream carries the same `__row_id` content hash as the batch
  * writer, so [[SpatialStore.read]]/[[SpatialStore.containmentRead]] work
  * identically on a streamed store: replicas collapse, tile pruning
  * applies. The same lanes make replay safe: `foreachBatch` is
  * at-least-once, and a batch re-run after a crash appends duplicates that
  * every read collapses. `tileTag` itself is mode-agnostic — the SAME
  * transform runs on a batch frame (tested equal) per Structured
  * Streaming's contract.
  *
  * Each microbatch is read ONCE: [[SpatialStore.readOnce]] copies the
  * tagged batch, so the range partitioner's sample and the write's map
  * stage scan the copy instead of re-running the batch plan (source scan,
  * WKT parse, row-id hashes) twice. The copy is released when the batch's
  * append returns or throws.
  */
object SpatialIngest {

  /** One tile id past the planned set: records the planner never saw
    * (outside the historical space) land here instead of being mis-routed
    * to a "nearest" in-space tile whose MBB would hide them from
    * containment pruning. */
  def overflowTileId(index: TileIndex): Int = index.tiles.map(_.tileId).max + 1

  /** The overflow tile's advertised boundary: everything — a containment
    * window always intersects it, so the (normally tiny or absent)
    * overflow partition is always scanned and out-of-space records stay
    * visible. */
  def overflowBoundary(index: TileIndex): TileBoundary =
    TileBoundary(overflowTileId(index),
      Mbb(-Double.MaxValue, -Double.MaxValue, Double.MaxValue, Double.MaxValue))

  /** Parse + envelope + replicate to every intersecting tile (reference
    * manipulate_2d -m). Malformed WKT rows drop silently (P4). A streaming
    * input, unlike the batch writer, can carry records OUTSIDE the
    * pre-planned space: any envelope not fully inside it also (or only)
    * tags the overflow tile, keeping reads exact. Output = input columns
    * ++ geom (WKB) ++ __row_id/__row_id2 ++ tile_id. */
  def tileTag(df: DataFrame, wktCol: String, index: TileIndex): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(index)
    val space = index.space
    val overflow = overflowTileId(index)
    val tileIds = udf { (x1: Double, y1: Double, x2: Double, y2: Double) =>
      val intersects = x1 <= space.xmax && space.xmin <= x2 &&
        y1 <= space.ymax && space.ymin <= y2
      val contained = x1 >= space.xmin && y1 >= space.ymin &&
        x2 <= space.xmax && y2 <= space.ymax
      if (!intersects) Array(overflow)
      else if (contained) bc.value.tilesFor(x1, y1, x2, y2)
      else bc.value.tilesFor(x1, y1, x2, y2) :+ overflow
    }
    // unparseable rows drop through a generator, so the WKT parses once
    // per row (graft.functions.withNonNull)
    withNonNull(SpatialStore.withRowIds(df), "geom", st_geomfromwkt(col(wktCol)))
      .withColumn("__env", st_envelope(col("geom")))
      .withColumn(SpatialStore.TileCol, explode(tileIds(
        col("__env.xmin"), col("__env.ymin"), col("__env.xmax"), col("__env.ymax"))))
      .drop("__env")
  }

  /** Start the ingest: writes the same `_graft_meta.json` the batch
    * writer produces up front (the tiling is fixed), so batch readers can
    * open the store while the stream runs, then appends every microbatch
    * with [[SpatialStore.writeRangeClustered]], over a copy of the batch
    * released when the batch ends ([[SpatialStore.readOnce]]). Refuses a
    * `path` whose existing meta was planned with a different tiling: its
    * files' tile ids would be read against the new tiles. */
  def start(stream: DataFrame, wktCol: String, index: TileIndex,
            path: String, checkpoint: String): StreamingQuery = {
    val spark = stream.sparkSession
    val tiles = index.tiles :+ overflowBoundary(index)
    val metaPath = new Path(path, SpatialStore.MetaFile)
    if (metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(metaPath)) {
      val old = SpatialStore.readMeta(spark, path).tiles
      require(old.sameElements(tiles),
        s"SpatialIngest.start: $path holds a store planned with a different " +
          s"tiling (${old.length} tiles, this index has ${tiles.length} with " +
          "the overflow tile); ingest with the store's own tiling, or into a " +
          "fresh path")
    }
    SpatialStore.writeMeta(spark, path, SpatialStore.Meta("geom", index.space, tiles))
    val append: (DataFrame, Long) => Unit =
      (batch, _) => SpatialStore.readOnce(batch)(
        SpatialStore.writeRangeClustered(_, path, append = true))
    tileTag(stream, wktCol, index).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(append)
      .start()
  }
}
