package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{TextFunctions => T}
import graft.queries.Tables

/**
 * Value-identity pins for the r18 state-free tf-idf cosine path:
 * [[Similarity.mergeDotCosinePairs]] (hashed-key merge-dot over broadcast
 * sorted arrays — the third-decade plan behind the Σ df² dispatch) must
 * return EXACTLY what the counting core returns, including under a binding
 * df cap (cold candidates + star fallback) and at minCosPpm = 0 (every
 * co-occurring pair emitted). The dispatch census guarantees a
 * collision-free hashed vocabulary before this path runs; these corpora
 * satisfy it naturally (asserted, so a vacuous pin cannot hide).
 */
class MergeDotCosineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def toks = Tables.documents(spark, sf)
    .where(col("doc_id") % 4 === 0)
    .select(col("doc_id").as("id"), explode(T.tokens(col("text"))).as("term"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def both(maxDfDenom: Int, minCosPpm: Long, maxDf: Long) = {
    val post = Similarity.buildPostingsForTest(toks, maxDfDenom).localCheckpoint()
    val cen = post.groupBy(col("term")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("t"),
        count_distinct(xxhash64(col("term"))).as("h")).head()
    assert(cen.getLong(0) == cen.getLong(1),
      "fixture vocabulary must be hash-collision-free or the pin is vacuous")
    val counting = rows(Similarity.cappedCosineForTest(post, minCosPpm, maxDf))
    val merged = rows(Similarity.mergeDotCosinePairs(post, minCosPpm, maxDf))
    (counting, merged)
  }

  test("merge-dot equals the counting core on the natural corpus") {
    for (minCos <- Seq(0L, 500000L)) {
      val (counting, merged) = both(maxDfDenom = 2, minCos, Long.MaxValue)
      assert(counting.nonEmpty, s"vacuous at minCos=$minCos")
      assert(merged == counting, s"minCosPpm $minCos")
    }
  }

  test("merge-dot equals the counting core under a binding df cap") {
    val (counting, merged) = both(maxDfDenom = 1, minCosPpm = 0L, maxDf = 20L)
    assert(counting.nonEmpty)
    assert(merged == counting)
  }

  test("exactly-once emission (hotFree) equals full-multiplicity emission") {
    // the r19 min_common_sorted filter: on a cap-free postings frame every
    // pair must survive exactly once through its minimal common hash — the
    // OUTPUT must be identical to both the unfiltered merge-dot and the
    // counting core, at a permissive threshold (multiplicity > 1 pairs) and
    // at q126's production threshold
    for (minCos <- Seq(0L, 500000L)) {
      val post = Similarity.buildPostingsForTest(toks, 2).localCheckpoint()
      val counting = rows(Similarity.cappedCosineForTest(post, minCos, Long.MaxValue))
      val oncePath = rows(Similarity.mergeDotCosinePairs(post, minCos,
        Long.MaxValue, hotFree = true))
      assert(counting.nonEmpty, s"vacuous at minCos=$minCos")
      assert(oncePath == counting, s"minCosPpm $minCos")
    }
  }

  test("the dispatch keeps exactly-once emission exact when only the raw df binds the cap") {
    import spark.implicits._
    // the hot set is `df > maxDf` over the RAW document frequency, while
    // the wt > 0 prune keeps fewer postings: a term in all 1100 docs with
    // tf = 1 weighs 1000 div 1100 = 0 and is pruned, so only the three
    // docs holding it twice keep a posting (kept d = 3 ≤ maxDf < df).
    // Docs 2 and 3 share that hot term and one cold term, and the hot
    // term's hash is the smaller, so their minimal common hash is never a
    // join key: a dispatch that calls this corpus hot-free would drop the
    // non-star pair (2, 3).
    val Array(hot, cold) = Seq("alpha", "beta").toDF("t")
      .select(col("t"), xxhash64(col("t")).as("k")).collect()
      .sortBy(_.getLong(1)).map(_.getString(0))
    val toks = (1L to 1100L).map {
        case 1L => (1L, Seq(hot, hot))
        case i if i <= 3L => (i, Seq(hot, hot, cold))
        case i => (i, Seq(hot))
      }.toDF("id", "terms")
      .select(col("id"), explode(col("terms")).as("term"))
    val maxDf = 10L
    val post = Similarity.buildPostingsForTest(toks, maxDfDenom = 1)
      .localCheckpoint()
    val hotStats = post.where(col("term") === hot)
      .agg(count(lit(1)), max(col("df"))).head()
    assert(hotStats.getLong(0) == 3L && hotStats.getLong(1) == 1100L,
      s"fixture must keep 3 postings of a df-1100 term, got $hotStats")

    val counting = rows(Similarity.cappedCosineForTest(post, 0L, maxDf))
    assert(counting.exists(r => r._1 == 2L && r._2 == 3L),
      "the non-star pair must be in the counting core's output")
    // stateBudget 0 routes the dispatch's own census to the merge-dot core
    val dispatched = rows(Similarity.cosineFromPostings(post, 0L, maxDf,
      stateBudget = 0L))
    assert(dispatched == counting)
  }
}
