package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.TestData

/** The curation operators and the stored bank warehouse reuse
  * intermediates only through `localCheckpoint`, whose blocks go with the
  * result. None registers a plan in the session's cache, where any later
  * query with a matching plan would read it and so depend on the queries
  * that ran before it.
  */
class NoCrossQueryStateSpec extends SparkSpec {

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("curation operators leave nothing in the session cache") {
    spark.catalog.clearCache()
    val docs = TestData.documents(spark, sf)
    val emb = TestData.embeddings(spark, sf)
    val built: Seq[(String, () => DataFrame)] = Seq(
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs)),
      "lshCandidates" -> (() => Dedup.lshCandidates(docs)),
      "dedupClusters" -> (() => Dedup.dedupClusters(docs)),
      "ivfTopK" -> (() => Similarity.ivfTopK(emb)),
      "cmSketchAudit" -> (() => TextAnalysis.cmSketchAudit(docs)),
      "pagerankResiduals" -> (() => Graph.pagerankResiduals(docs)),
      "triangleStats" -> (() => Graph.triangleStats(docs)))
    for ((name, build) <- built) {
      assert(build().collect().nonEmpty, s"$name returned no rows")
      assert(cacheIsEmpty, s"$name left a plan in the session cache")
    }
  }

  test("the stored bank warehouse leaves nothing in the session cache") {
    spark.catalog.clearCache()
    val w = BankEtl.build(spark, sf, cache = true)
    for ((name, df) <- w.tables) {
      assert(df.count() > 0, s"warehouse table $name has no rows")
      assert(cacheIsEmpty, s"warehouse table $name left a plan in the session cache")
    }
  }
}
