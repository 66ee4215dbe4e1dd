package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.SpatialJoin
import graft.sources.SpatialStore

/** User-facing DataFrame syntax — the Spark analog of the reference's
  * `queryproc` CLI surface (-q spjoin/partition/containment, -p predicate,
  * -u partitioner; /root/reference/src/progparams/queryprocessor_params_2d.hpp).
  */
package object api {

  implicit class GraftDataFrameOps(private val df: DataFrame) {

    /** Parse a WKT column into the engine's WKB geometry representation
      * (malformed rows -> null geometry). */
    def withGeomFromWkt(wktCol: String, geomCol: String = "geom"): DataFrame =
      df.withColumn(geomCol, st_geomfromwkt(col(wktCol)))

    /** Tile-partitioned spatial join (predicate from SpatialJoin.Config). */
    def spatialJoin(right: DataFrame, leftGeom: String, rightGeom: String,
                    predicate: String = "intersects",
                    distance: Double = 0.0,
                    partitioner: String = "fg",
                    bucket: Int = 0): DataFrame =
      SpatialJoin.join(df, leftGeom, right, rightGeom,
        SpatialJoin.Config(predicate = predicate, distance = distance,
          partitioner = partitioner, bucket = bucket))

    /** Tile-local kNN join (reference st_nearest2 parity). */
    def knnJoin(right: DataFrame, leftGeom: String, rightGeom: String,
                k: Int): DataFrame =
      SpatialJoin.knnJoin(df, leftGeom, right, rightGeom, k)

    /** Exact global kNN join. */
    def knnJoinExact(right: DataFrame, leftGeom: String,
                     rightGeom: String, k: Int,
                     tieBreak: Seq[String] = Seq.empty): DataFrame =
      SpatialJoin.knnJoinExact(df, leftGeom, right, rightGeom, k, tieBreak)

    /** Window/containment filter against a WKT window. */
    def containment(windowWkt: String, geomCol: String = "geom"): DataFrame = {
      val wkb = graft.core.GeometryCodec.toWkb(
        graft.core.GeometryCodec.fromWkt(windowWkt))
      df.where(st_intersects(col(geomCol), lit(wkb)))
    }

    // ------------------------------------------ text-pipeline chaining
    // the curation front as fluent steps, so a pipeline reads as its
    // stage list: docs.stripHtml("html").qualityFilter("text2")
    //   .capPerHost("source", "doc_id", 1000)
    //   .assignSplits("doc_id", Seq("train" -> 0.99, "valid" -> 0.01))
    //   .chunkByTokens("doc_id", "text2", 2048, 64)

    /** HTML → text extraction (StripHtml kernel) into `outCol`. */
    def stripHtml(htmlCol: String, outCol: String = "text"): DataFrame =
      df.withColumn(outCol, strip_html(col(htmlCol)))

    /** Main-content extraction — boilerplate blocks dropped (see
      * [[graft.text.Boilerplate]]). */
    def extractMain(htmlCol: String, outCol: String = "main_text"): DataFrame =
      graft.text.Boilerplate.extractMain(df, htmlCol, outCol)

    /** Gopher-class quality filter (see [[graft.text.QualityFilter]]). */
    def qualityFilter(textCol: String,
                      rules: graft.text.QualityFilter.Rules =
                        graft.text.QualityFilter.Rules()): DataFrame =
      graft.text.QualityFilter.filter(df, textCol, rules)

    /** Per-host document cap (see [[graft.text.HostCurate]]). */
    def capPerHost(hostCol: String, idCol: String, k: Int): DataFrame =
      graft.text.HostCurate.capPerHost(df, hostCol, idCol, k)

    /** Deterministic split assignment (see [[graft.text.CorpusSplit]]). */
    def assignSplits(idCol: String, splits: Seq[(String, Double)],
                     salt: Long = 0L): DataFrame =
      graft.text.CorpusSplit.assignSplits(df, idCol, splits, salt)

    /** Token-window chunking (see [[graft.text.TextChunk]]). */
    def chunkByTokens(idCol: String, textCol: String,
                      size: Int, overlap: Int): DataFrame =
      graft.text.TextChunk.chunkByTokens(df, idCol, textCol, size, overlap)

    /** URL-level dedup after canonicalization (see
      * [[graft.text.UrlCurate]]); adds `url_canon`. */
    def dedupByUrl(urlCol: String, idCol: String): DataFrame =
      graft.text.UrlCurate.dedupByUrl(df, urlCol, idCol)

    /** Write spatially partitioned (reference `partition` lifecycle):
      * range-clustered files under `data/` plus a per-file tile-range
      * manifest, read back with [[SpatialStore.containmentRead]] etc. */
    def spatialPartitionWrite(path: String, geomCol: String = "geom",
                              partitioner: String = "fg", bucket: Int = 0): Unit =
      SpatialStore.write(df, geomCol, path,
        SpatialJoin.Config(partitioner = partitioner, bucket = bucket))

    /** Per-tile object counts + the reference's partition-quality stats
      * (queryprocessor_2d.cpp:61-106 post_process_stat): one row per tile
      * plus a summary frame of count/mean/min/max/stddev. */
    def describeSpatialPartitioning(geomCol: String = "geom",
                                    partitioner: String = "fg",
                                    bucket: Int = 0): (DataFrame, DataFrame) = {
      // single point of truth with the visualizer: same plan, same counts
      val perTile = graft.viz.PartitionVis
        .tileFrame(df, geomCol, partitioner, bucket)
        .where(col("n_objects") > 0) // post_process_stat counts occupied tiles
        .select(col("tile_id"), col("n_objects"))
      val summary = perTile.agg(
        count(lit(1)).as("n_tiles"),
        sum("n_objects").as("n_replicated_objects"),
        avg("n_objects").as("mean_objects"),
        min("n_objects").as("min_objects"),
        max("n_objects").as("max_objects"),
        stddev_samp("n_objects").as("stddev_objects"))
      (perTile, summary)
    }
  }
}
