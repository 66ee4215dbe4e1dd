package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{st_geomfromwkt, withNonNull}

/** The reference's native input format: schema-on-read TSV with one
  * user-chosen WKT column (S1 — resque_2d.cpp:306-307, tokenizer.h:6-132,
  * --shpidx at resque_params_2d.hpp:13-16). Non-geometry fields stay opaque
  * strings, carried through untouched (query_temp.rawdata semantics).
  *
  * The WKT parses ONCE per row, at the scan boundary, into the engine's WKB
  * column (the reference re-parses at every pipeline stage); malformed
  * geometry -> null + optional row drop, mirroring the mapper's permissive
  * skip (manipulate_2d.cpp:182-189). The drop is a generator
  * ([[graft.functions.withNonNull]]), not a filter: pushdown would copy a
  * `geom IS NOT NULL` filter below the projection as
  * `isnotnull(st_geomfromwkt(f))` and parse every row twice, and a
  * downstream envelope filter a third time.
  *
  * Reading the field count costs no Spark job: the first line comes
  * through the Hadoop FileSystem ([[firstLine]]).
  */
object WktTsvSource {

  /** @param shpIdx 1-based index of the WKT column (reference -i flag)
    * @param dropMalformed drop rows whose geometry fails to parse
    * @param nFields optional fixed field count; inferred from the first
    *                line when absent */
  def read(spark: SparkSession, path: String, shpIdx: Int,
           dropMalformed: Boolean = true,
           nFields: Option[Int] = None): DataFrame = {
    val n = nFields.getOrElse {
      val first = firstLine(spark, path)
      require(first.nonEmpty, s"empty input $path")
      first.get.split("\t", -1).length
    }
    require(shpIdx >= 1 && shpIdx <= n, s"shpIdx $shpIdx out of range 1..$n")
    val schema = StructType((1 to n).map(i => StructField(s"f$i", StringType)))
    val raw = spark.read
      .option("sep", "\t")
      .option("quote", "")      // reference tokenizer: no quoting, keep blanks
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)
    val geom = st_geomfromwkt(col(s"f$shpIdx"))
    if (dropMalformed) withNonNull(raw, "geom", geom) else raw.withColumn("geom", geom)
  }

  /** The first line of the input at `path`, read on the driver through the
    * Hadoop FileSystem — no Spark job. The files tried are the ones
    * `spark.read.text(path)` would scan (its listing resolves globs,
    * directories of part files and hidden `_`/`.` files, and runs no job
    * below Spark's parallel-listing threshold), in path order until one
    * holds a line; each is decompressed by the codec its suffix names, as
    * the text scan's line reader does. None when no file holds a line. */
  private[sources] def firstLine(spark: SparkSession, path: String): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val codecs = new CompressionCodecFactory(conf)
    spark.read.text(path).inputFiles.sorted.iterator.map { f =>
      val p = new Path(new URI(f)) // inputFiles are escaped URIs
      val raw = p.getFileSystem(conf).open(p)
      val codec = codecs.getCodec(p)
      val in = new BufferedReader(new InputStreamReader(
        if (codec == null) raw else codec.createInputStream(raw), UTF_8))
      try Option(in.readLine()) finally in.close()
    }.collectFirst { case Some(line) => line }
  }

  /** S2: MBB record scan — `id x1 y1 x2 y2` rows (reference --mbbread,
    * manipulate_2d.cpp:105-109, SpaceStreamReader). */
  def readMbb(spark: SparkSession, path: String, sep: String = "\t",
              dropTrailer: Boolean = true): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("xmin", DoubleType), StructField("ymin", DoubleType),
      StructField("xmax", DoubleType), StructField("ymax", DoubleType)))
    val df = spark.read.option("sep", sep).schema(schema).csv(path)
      .where(col("xmin").isNotNull)
    // the reference's MBB streams carry a -1-keyed space-envelope trailer
    // (manipulate_2d.cpp:199-203)
    if (dropTrailer) df.where(col("id") =!= "-1") else df
  }

  /** Write back as TSV (geometry re-serialized into its column slot). */
  def write(df: DataFrame, path: String, shpIdx: Int): Unit = {
    val fields = df.columns.filter(_.startsWith("f"))
    val cols = fields.map { c =>
      if (c == s"f$shpIdx") graft.functions.st_astext(col("geom")) else col(c)
    }
    df.select(concat_ws("\t", cols.toIndexedSeq: _*).as("value"))
      .write.mode("overwrite").text(path)
  }
}
