package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{TextFunctions => T}
import graft.queries.Tables

/**
 * Value-identity pins for the r18 prefix-pigeonhole exact similarity joins:
 * [[Dedup.pigeonholeJaccard]] / [[Dedup.pigeonholeContainment]] must return
 * EXACTLY what the counting twins return — the pigeonhole only changes
 * candidate GENERATION (k-prefix theorem + hashed keys + inline verify), so
 * any divergence is a recall bug in a channel (main / small-doc /
 * hot-having / star), which is exactly what these corpora are built to
 * expose: natural text, c=1-qualifying tiny docs, global-order ties, and a
 * binding df cap.
 */
class PrefixPigeonholeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docShingles = Tables.documents(spark, sf)
    .where(col("doc_id") % 3 === 0)
    .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))

  private def jacSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def contSet(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4))).toSet

  test("pigeonhole Jaccard equals the counting join on the natural corpus") {
    for (t <- Seq(0.1, 0.5, 0.8)) {
      val counting = jacSet(Dedup.countingJaccard(docShingles, t))
      val pigeon = jacSet(Dedup.pigeonholeJaccard(docShingles, t))
      assert(counting.nonEmpty, s"vacuous at t=$t")
      assert(pigeon == counting, s"threshold $t")
      // r19 chunked-verify tier: same values with the gate's array side
      // sliced into 3 map-side broadcast pieces (9 unioned branches)
      val chunked = jacSet(
        Dedup.pigeonholeJaccard(docShingles, t, verifyChunks = 3))
      assert(chunked == counting, s"chunked-verify threshold $t")
    }
  }

  test("pigeonhole containment equals the counting join on the natural corpus") {
    for (tfp <- Seq(500000L, 800000L)) {
      val counting = contSet(Dedup.countingContainment(docShingles, tfp))
      val pigeon = contSet(Dedup.pigeonholeContainment(docShingles, tfp))
      assert(counting.nonEmpty, s"vacuous at tfp=$tfp")
      assert(pigeon == counting, s"thresholdFp $tfp")
      val chunked = contSet(
        Dedup.pigeonholeContainment(docShingles, tfp, verifyChunks = 3))
      assert(chunked == counting, s"chunked-verify thresholdFp $tfp")
    }
  }

  test("small-doc channel: c=1 pairs below the k=2 pigeonhole are found") {
    import spark.implicits._
    // (1,2): sz 1 vs 2, c=1 → jac 0.5 — invisible to any 2-token key;
    // (3,4): identical singletons → jac 1.0; (5,6): sz 2 vs 2 sharing one
    // token → jac 1/3, must NOT appear at θ=0.5; plus natural-ish fillers
    val docs = Seq(
      (1L, Seq("x a")), (2L, Seq("x a", "y b")),
      (3L, Seq("z c")), (4L, Seq("z c")),
      (5L, Seq("p q", "r s")), (6L, Seq("p q", "t u")),
      (7L, Seq("m n", "n o", "o p")), (8L, Seq("m n", "n o", "o p", "q r"))
    ).toDF("id", "shingles")
    val counting = jacSet(Dedup.countingJaccard(docs, 0.5))
    val pigeon = jacSet(Dedup.pigeonholeJaccard(docs, 0.5))
    assert(counting == pigeon)
    assert(pigeon.contains((1L, 2L, 0.5)) && pigeon.contains((3L, 4L, 1.0)))
    assert(!pigeon.exists(p => p._1 == 5L && p._2 == 6L))
    // containment on the same corpus: (1→2) is 1e6 exactly
    val c1 = contSet(Dedup.countingContainment(docs, 800000L))
    val c2 = contSet(Dedup.pigeonholeContainment(docs, 800000L))
    assert(c1 == c2)
    assert(c2.exists(r => r._1 == 1L && r._2 == 2L && r._5 == 1000000L))
  }

  test("binding df cap: hot-having channel restores cold-candidate recall") {
    import spark.implicits._
    // the ScaleOpsSpec fixture shape: docs 1-2 share a COLD token plus the
    // HOT boilerplate — the cold k=2 channel alone cannot see them (one
    // cold common), the hot-having channel must
    val docs = ((1L to 2L).map(i => (i, Seq("hot b", "pair x", s"u $i"))) ++
      (3L to 200L).map(i => (i, Seq("hot b", s"u $i")))).toDF("id", "shingles")
    val counting = jacSet(Dedup.countingJaccard(docs, 0.5, maxDf = 50))
    val pigeon = jacSet(Dedup.pigeonholeJaccard(docs, 0.5, maxDf = 50))
    assert(pigeon == counting)
    assert(pigeon == Set((1L, 2L, 0.5)))
    val cc = contSet(Dedup.countingContainment(docs, 600000L, maxDf = 50))
    val pc = contSet(Dedup.pigeonholeContainment(docs, 600000L, maxDf = 50))
    assert(pc == cc)
  }

  test("global-order ties and duplicate-free prefixes: planted equal-df corpus") {
    import spark.implicits._
    // every token has df=2 → the (df, token) order is decided entirely by
    // the token tie-break; pairs sit exactly at the θ boundary sizes
    val docs = Seq(
      (10L, Seq("a a", "b b", "c c", "d d")),
      (11L, Seq("a a", "b b", "c c", "e e")),
      (12L, Seq("d d", "e e", "f f")),
      (13L, Seq("f f", "g g")),
      (14L, Seq("g g"))
    ).toDF("id", "shingles")
    for (t <- Seq(0.3, 0.5)) {
      assert(jacSet(Dedup.pigeonholeJaccard(docs, t)) ==
        jacSet(Dedup.countingJaccard(docs, t)), s"t=$t")
    }
    for (tfp <- Seq(400000L, 1000000L)) {
      assert(contSet(Dedup.pigeonholeContainment(docs, tfp)) ==
        contSet(Dedup.countingContainment(docs, tfp)), s"tfp=$tfp")
    }
  }

  test("public entry dispatches across all four census regimes") {
    // the Jaccard dispatch is four-tier (r19): counting below the prefix
    // floor (this corpus's census is test-scale, so the DEFAULT floor
    // routes it to counting), the one-broadcast pigeonhole plan between
    // floor and broadcast budget, the CHUNKED-verify pigeonhole plan while
    // ⌈census/budget⌉ ≤ the chunk cap (K² unioned map-side branches —
    // pinned by the Union + slice filters in the plan), counting again
    // beyond the cap. Pin each regime via the sys-prop knobs.
    def plan(): String = Dedup.allPairsJaccard(docShingles, 0.5)
      .queryExecution.executedPlan.toString
    val postings = docShingles
      .agg(sum(size(col("shingles")))).head().getLong(0)
    try {
      assert(!plan().contains("intersect_count_sorted"),
        "default floor must route a test-scale census to the counting plan")
      sys.props("graft.prefix.min.postings") = "0"
      val bc = plan()
      assert(bc.contains("intersect_count_sorted"),
        "floor 0 must route to the inline-verify (pigeonhole) plan")
      assert(!bc.contains("pmod(xxhash64(id"),
        "below the broadcast budget the gate side must be ONE broadcast " +
          "(no slice filters)")
      // budget = half the census ⟹ exactly K = 2 slices, 4 branches
      sys.props("graft.inline.verify.max.postings") =
        ((postings + 1) / 2).toString
      val ch = plan()
      assert(ch.contains("intersect_count_sorted"),
        "above the broadcast budget the pigeonhole plan must survive " +
          "with the chunked map-side verify")
      assert(ch.contains("Union"), "the chunked tier unions K² branches")
      assert(ch.contains("pmod(xxhash64(id"),
        "the chunked tier slices the verify side deterministically:\n" +
          ch.take(2000))
      // chunk cap 1 with a census above the budget ⟹ K = 2 > cap ⟹ counting
      sys.props("graft.verify.max.chunks") = "1"
      assert(!plan().contains("intersect_count_sorted"),
        "a census needing more chunks than the cap must fall back to counting")
    } finally {
      sys.props -= "graft.prefix.min.postings"
      sys.props -= "graft.inline.verify.max.postings"
      sys.props -= "graft.verify.max.chunks"
    }
    // containment stays prefix-routed at any sub-budget census (no floor)
    val cplan = Dedup.containmentPairs(docShingles, 800000L)
      .queryExecution.executedPlan.toString
    assert(cplan.contains("intersect_count_sorted"), cplan.take(2000))
  }

  test("a non-positive or non-numeric gate knob is rejected by name") {
    for (bad <- Seq("0", "-5", "abc")) {
      sys.props("graft.inline.verify.max.postings") = bad
      try {
        val e = intercept[IllegalArgumentException](
          Dedup.allPairsJaccard(docShingles, 0.5))
        assert(e.getMessage.contains("graft.inline.verify.max.postings") &&
          e.getMessage.contains("SPARK_GRAFT_INLINE_VERIFY_MAX_POSTINGS") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally sys.props -= "graft.inline.verify.max.postings"
    }
  }
}
