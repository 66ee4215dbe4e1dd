package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point: registers every graft SQL function at
  * session build time. Enable with
  * `spark.sql.extensions=graft.GraftExtensions` — no code changes needed in
  * the user's application (the standard Spark extension mechanism).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // SQL spatial and kNN joins plan as SpatialJoinExec / KnnJoinExec
    e.injectPlannerStrategy(_ => org.apache.spark.sql.graft.SpatialJoinStrategy)
    // lazy TVF leaves (dedup_by_components) plan as DeferredExec
    e.injectPlannerStrategy(_ => graft.plans.DeferredStrategy)

    def r(name: String, builder: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))

    r("st_geomfromwkt", es => StGeomFromWkt(es.head))
    r("st_astext", es => StAsText(es.head))
    r("st_point", es => StPoint(es(0), es(1)))
    r("st_makebox", es => StMakeBox(es))
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
    r("cosine_similarity", es => CosineSimilarity(es(0), es(1)))
    r("dot_product", es => DotProduct(es(0), es(1)))
    r("simhash64", es => SimHash64(es.head))
    r("sig_agreement", es => SigAgreement(es(0), es(1)))
    r("rolling_hash64", es => RollingHash64(es.head))
    r("seeded_hash64", es => SeededHash64(es(0), es(1)))
    r("st_snaptogrid", es => StSnapToGrid(es(0), es(1)))
    r("st_npoints", es => StNumPoints(es.head))
    r("st_discretize", StDiscretize.fromSqlArgs _)
    r("st_makeline", es => StMakeLine(es))
    r("word_shingles", es => WordShingles(es(0),
      graft.functions.sqlFoldInt(es(1), "word_shingles n"), distinct = true))
    r("word_shingles_all", es => WordShingles(es(0),
      graft.functions.sqlFoldInt(es(1), "word_shingles_all n"), distinct = false))
    r("char_shingles", es => CharShingles(es(0),
      graft.functions.sqlFoldInt(es(1), "char_shingles n"), distinct = true))
    r("char_shingles_all", es => CharShingles(es(0),
      graft.functions.sqlFoldInt(es(1), "char_shingles_all n"), distinct = false))
    r("remove_covered_tokens", es => RemoveCoveredTokens(es(0), es(1),
      graft.functions.sqlFoldInt(es(2), "remove_covered_tokens k")))
    r("compression_ratio", es => CompressionRatio(es.head))
    r("nfc_normalize", es => NormalizeText(es.head, "NFC"))
    r("nfkc_normalize", es => NormalizeText(es.head, "NFKC"))
    r("strip_html", es => StripHtml(es.head))
    r("html_blocks", es => HtmlBlockStats(es.head))
    r("canonicalize_url", es =>
      CanonicalizeUrl(es.head, graft.text.UrlCurate.defaultDropParams))
    r("cdc_chunks", es => CdcChunks(es(0),
      graft.functions.sqlFoldInt(es(1), "cdc_chunks min"),
      graft.functions.sqlFoldInt(es(2), "cdc_chunks avgBits"),
      graft.functions.sqlFoldInt(es(3), "cdc_chunks max")))
    r("intervals_overlap", es => IntervalsOverlap(es(0), es(1)))
    r("intervals_contain", es => IntervalsContain(es(0), es(1)))
    r("intervals_mindist", es => IntervalsMinDist(es(0), es(1)))

    // SQL TABLE functions for the LLM operators (see
    // graft.functions.TableFunctions for the contract)
    graft.functions.TableFunctions.descriptions.foreach(e.injectTableFunction)
  }
}
