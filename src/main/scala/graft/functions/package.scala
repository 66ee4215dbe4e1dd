package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Bridge

/** Column-API surface for the spatial function library, plus SQL
  * FunctionRegistry registration so every function is usable from
  * `spark.sql(...)` as well.
  */
package object functions {
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  def st_geomfromwkt(wkt: Column): Column = col(StGeomFromWkt(ex(wkt)))
  def st_astext(g: Column): Column = col(StAsText(ex(g)))
  def st_point(x: Column, y: Column): Column = col(StPoint(ex(x), ex(y)))
  def st_makebox(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    col(StMakeBox(Seq(ex(xmin), ex(ymin), ex(xmax), ex(ymax))))
  def st_makeline(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    col(StMakeLine(Seq(ex(x1), ex(y1), ex(x2), ex(y2))))
  def st_envelope(g: Column): Column = col(StEnvelope(ex(g)))

  def st_intersects(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "intersects"))
  def st_touches(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "touches"))
  def st_crosses(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "crosses"))
  def st_contains(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "contains"))
  def st_within(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "within"))
  def st_overlaps(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "overlaps"))
  def st_equals(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "equals"))
  def st_disjoint(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "disjoint"))
  def st_adjacent(a: Column, b: Column): Column = col(StPredicate(ex(a), ex(b), "adjacent"))
  def st_dwithin(a: Column, b: Column, d: Column): Column =
    col(StDWithin(ex(a), ex(b), ex(d)))
  /** kNN-join predicate marker ([[StNearest]]): only meaningful inside an
    * inner-join condition planned by SpatialJoinStrategy. */
  def st_nearest(a: Column, b: Column, k: Int,
                 maxDistance: Double = Double.PositiveInfinity): Column =
    col(StNearest(ex(a), ex(b), k, maxDistance))

  def st_distance(a: Column, b: Column): Column = col(StDistance(ex(a), ex(b)))
  def st_distancesphere(a: Column, b: Column): Column = col(StDistanceSphere(ex(a), ex(b)))
  def st_area(g: Column): Column = col(StArea(ex(g)))
  def st_union(a: Column, b: Column): Column = col(StOverlay(ex(a), ex(b), "union"))
  def st_intersection(a: Column, b: Column): Column = col(StOverlay(ex(a), ex(b), "intersection"))
  def st_difference(a: Column, b: Column): Column = col(StOverlay(ex(a), ex(b), "difference"))
  def st_buffer(g: Column, d: Column): Column = col(StBuffer(ex(g), ex(d)))
  def st_intersection_area(a: Column, b: Column): Column =
    col(StOverlapMeasure(ex(a), ex(b), "intersection_area"))
  def st_union_area(a: Column, b: Column): Column =
    col(StOverlapMeasure(ex(a), ex(b), "union_area"))
  def st_jaccard(a: Column, b: Column): Column = col(StOverlapMeasure(ex(a), ex(b), "jaccard"))
  def st_dice(a: Column, b: Column): Column = col(StOverlapMeasure(ex(a), ex(b), "dice"))
  def hilbert(x: Column, y: Column, order: Column): Column =
    col(HilbertValue(ex(x), ex(y), ex(order)))

  def intervals_overlap(a: Column, b: Column): Column = col(IntervalsOverlap(ex(a), ex(b)))
  def intervals_contain(a: Column, b: Column): Column = col(IntervalsContain(ex(a), ex(b)))
  def intervals_mindist(a: Column, b: Column): Column = col(IntervalsMinDist(ex(a), ex(b)))
  def st_snaptogrid(g: Column, cell: Column): Column = col(StSnapToGrid(ex(g), ex(cell)))
  def st_npoints(g: Column): Column = col(StNumPoints(ex(g)))

  /** P9 full discretize_cords port (discretize_cords.cpp:38-333): affine
    * remap of every vertex from `oldSpace` into `newSpace`, ceil'd to the
    * integer grid; `skipComplex` drops polygons with holes (-k flag). */
  def st_discretize(g: Column, oldSpace: graft.core.Mbb, newSpace: graft.core.Mbb,
                    skipComplex: Boolean = false): Column =
    col(StDiscretize(ex(g),
      oldSpace.xmin, oldSpace.ymin, oldSpace.xmax, oldSpace.ymax,
      newSpace.xmin, newSpace.ymin, newSpace.xmax, newSpace.ymax, skipComplex))

  /** P8 coordinate normalization: affine map into [0,1] (reference
    * mbb_normalizer, partition_params.hpp:18-23). */
  def norm_coord(v: Column, lo: Column, hi: Column): Column = (v - lo) / (hi - lo)
  def denorm_coord(v: Column, lo: Column, hi: Column): Column = v * (hi - lo) + lo

  def cosine_similarity(a: Column, b: Column): Column = col(CosineSimilarity(ex(a), ex(b)))
  def dot_product(a: Column, b: Column): Column = col(DotProduct(ex(a), ex(b)))
  def simhash64(text: Column): Column = col(SimHash64(ex(text)))
  def rolling_hash64(text: Column): Column = col(RollingHash64(ex(text)))
  def seeded_hash64(text: Column, seed: Column): Column = col(SeededHash64(ex(text), ex(seed)))
  def affine_hash(x: Column, a: Long, b: Long): Column = col(AffineHash(ex(x), a, b))
  def word_shingles(text: Column, n: Int): Column = col(WordShingles(ex(text), n, distinct = true))
  def word_shingles_all(text: Column, n: Int): Column = col(WordShingles(ex(text), n, distinct = false))
  def char_shingles(text: Column, n: Int): Column = col(CharShingles(ex(text), n, distinct = true))
  def char_shingles_all(text: Column, n: Int): Column = col(CharShingles(ex(text), n, distinct = false))
  def sig_agreement(a: Column, b: Column): Column = col(SigAgreement(ex(a), ex(b)))
  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column = col(BpeEncode(ex(text), merges))
  def wordpiece_encode(text: Column, vocab: Seq[String], unk: String = "[UNK]"): Column =
    col(WordPieceEncode(ex(text), vocab, unk))
  def bloom_contains_long(x: Column, bf: org.apache.spark.util.sketch.BloomFilter): Column = col(BloomContainsLong(ex(x), bf))
  def remove_covered_tokens(text: Column, starts: Column, k: Int): Column = col(RemoveCoveredTokens(ex(text), ex(starts), k))
  def cms_at_least(x: Column, cms: org.apache.spark.util.sketch.CountMinSketch, min: Long): Column = col(CmsAtLeast(ex(x), cms, min))
  def compression_ratio(text: Column): Column = col(CompressionRatio(ex(text)))
  def nfc_normalize(text: Column): Column = col(NormalizeText(ex(text), "NFC"))
  def nfkc_normalize(text: Column): Column = col(NormalizeText(ex(text), "NFKC"))
  def strip_html(text: Column): Column = col(StripHtml(ex(text)))
  def html_blocks(html: Column): Column = col(HtmlBlockStats(ex(html)))
  def canonicalize_url(url: Column,
                       dropParams: Seq[String] = graft.text.UrlCurate.defaultDropParams): Column =
    col(CanonicalizeUrl(ex(url), dropParams))
  def cdc_chunks(bin: Column, minSize: Int, avgBits: Int, maxSize: Int): Column =
    col(CdcChunks(ex(bin), minSize, avgBits, maxSize))

  /** `df` with `value` appended as column `name`, keeping only the rows
    * where it is not null — with `value` evaluated once per row. The drop is
    * a generator (explode of the value's null-filtered singleton array):
    * Catalyst never pushes a filter on a generated column below its
    * Generate, and the file scan stays the plan's leaf. The plain
    * `withColumn(name, value).where(col(name).isNotNull)` lets predicate
    * pushdown substitute `value` into a filter below the projection, so
    * every kernel under it ran twice per row (three times for a WKT parse
    * under an envelope). Column order and nullability are that form's. */
  private[graft] def withNonNull(df: DataFrame, name: String, value: Column): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    df.select(F.col("*"), F.explode(F.filter(F.array(value), _.isNotNull)).as(name))
  }

  /** Register every spatial function in the session's FunctionRegistry for
    * SQL use. Idempotent. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def r(name: String, builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    r("st_geomfromwkt", es => StGeomFromWkt(es.head))
    r("st_astext", es => StAsText(es.head))
    r("st_point", es => StPoint(es(0), es(1)))
    r("st_makebox", es => StMakeBox(es))
    r("st_makeline", es => StMakeLine(es))
    r("st_envelope", es => StEnvelope(es.head))
    Seq("intersects", "touches", "crosses", "contains", "within",
        "overlaps", "equals", "disjoint", "adjacent").foreach { p =>
      r(s"st_$p", es => StPredicate(es(0), es(1), p))
    }
    r("st_dwithin", es => StDWithin(es(0), es(1), es(2)))
    r("st_nearest", StNearest.fromSqlArgs _)
    r("st_nearest2", StNearest2.fromSqlArgs _)
    r("st_distance", es => StDistance(es(0), es(1)))
    r("st_distancesphere", es => StDistanceSphere(es(0), es(1)))
    r("st_area", es => StArea(es.head))
    r("st_union", es => StOverlay(es(0), es(1), "union"))
    r("st_intersection", es => StOverlay(es(0), es(1), "intersection"))
    r("st_difference", es => StOverlay(es(0), es(1), "difference"))
    r("st_buffer", es => StBuffer(es(0), es(1)))
    r("st_intersection_area", es => StOverlapMeasure(es(0), es(1), "intersection_area"))
    r("st_union_area", es => StOverlapMeasure(es(0), es(1), "union_area"))
    r("st_jaccard", es => StOverlapMeasure(es(0), es(1), "jaccard"))
    r("st_dice", es => StOverlapMeasure(es(0), es(1), "dice"))
    r("hilbert", es => HilbertValue(es(0), es(1), es(2)))
    r("intervals_overlap", es => IntervalsOverlap(es(0), es(1)))
    r("intervals_contain", es => IntervalsContain(es(0), es(1)))
    r("intervals_mindist", es => IntervalsMinDist(es(0), es(1)))
    r("st_snaptogrid", es => StSnapToGrid(es(0), es(1)))
    r("st_npoints", es => StNumPoints(es.head))
    // st_discretize(geom, oldminx,oldminy,oldmaxx,oldmaxy,
    //               newminx,newminy,newmaxx,newmaxy [, skipComplex])
    // space bounds must be literals (they parameterize the expression)
    r("st_discretize", StDiscretize.fromSqlArgs _)
    r("cosine_similarity", es => CosineSimilarity(es(0), es(1)))
    r("dot_product", es => DotProduct(es(0), es(1)))
    r("simhash64", es => SimHash64(es.head))
    r("sig_agreement", es => SigAgreement(es(0), es(1)))
    r("rolling_hash64", es => RollingHash64(es.head))
    r("seeded_hash64", es => SeededHash64(es(0), es(1)))
    r("word_shingles", es => WordShingles(es(0), sqlFoldInt(es(1), "word_shingles n"), distinct = true))
    r("word_shingles_all", es => WordShingles(es(0), sqlFoldInt(es(1), "word_shingles_all n"), distinct = false))
    r("char_shingles", es => CharShingles(es(0), sqlFoldInt(es(1), "char_shingles n"), distinct = true))
    r("char_shingles_all", es => CharShingles(es(0), sqlFoldInt(es(1), "char_shingles_all n"), distinct = false))
    r("remove_covered_tokens", es => RemoveCoveredTokens(es(0), es(1), sqlFoldInt(es(2), "remove_covered_tokens k")))
    r("compression_ratio", es => CompressionRatio(es.head))
    r("nfc_normalize", es => NormalizeText(es.head, "NFC"))
    r("nfkc_normalize", es => NormalizeText(es.head, "NFKC"))
    r("strip_html", es => StripHtml(es.head))
    r("html_blocks", es => HtmlBlockStats(es.head))
    r("canonicalize_url", es =>
      CanonicalizeUrl(es.head, graft.text.UrlCurate.defaultDropParams))
    r("cdc_chunks", es => CdcChunks(es(0), sqlFoldInt(es(1), "cdc_chunks min"),
      sqlFoldInt(es(2), "cdc_chunks avgBits"), sqlFoldInt(es(3), "cdc_chunks max")))
  }

  /** Literal-int SQL argument (parameterizes an expression instance). */
  def sqlFoldInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be an integer literal, got: ${e.sql}")
    e.eval(null) match {
      case n: Number => n.intValue()
      case v => throw new IllegalArgumentException(s"$what is not numeric: $v")
    }
  }
}
