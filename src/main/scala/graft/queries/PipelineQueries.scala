package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.operators.{Annotations, Bpe, CorpusOps, Dedup, Ivf, Mixtures, Packing, Preferences, Retrieval, Rolling, Similarity, Skew, TextEval}

/**
 * Training-data pipeline operators (dedup, similarity search, text analysis)
 * over the `documents` / `embeddings` tables, each with a DuckDB oracle that
 * recomputes the identical md5-based hashes / double-precision folds.
 *
 * The corpus ships planted near-duplicate pairs (word-2-gram Jaccard >= 0.9),
 * so the dedup queries return non-degenerate results on the real data.
 */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Distinct word n-gram shingles: the native codegen'd `word_ngrams`
   * kernel when GraftExtensions is installed, the value-identical HOF chain
   * otherwise — shingling feeds every dedup/similarity query, so the fused
   * single-pass kernel is the hot-path default. */
  private def shingleExpr(s: SparkSession, text: Column, n: Int): Column =
    if (s.catalog.functionExists("word_ngrams"))
      call_function("word_ngrams", text, lit(n))
    else T.shingles(text, n)

  /** documents → (id, shingles) with distinct word n-gram features. */
  private def docShingles(s: SparkSession, d: String, n: Int,
                          pred: Column = lit(true)): DataFrame =
    Tables.documents(s, d).where(pred)
      .select(col("doc_id").as("id"), shingleExpr(s, col("text"), n).as("shingles"))

  /** Deterministic 5-annotator labeling of the documents table (the q59
   * in-query derivation pattern, so the DuckDB oracle rebuilds the SAME
   * labels): the true class is a 3-way n_chars bucket; annotator a flips
   * to an md5-derived class on an md5 roll < a/10 — flip rates 0%..40%,
   * so agreement degrades with annotator id and every kappa regime
   * (near-perfect through heavily-noised) appears in one table. */
  private def annotatedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id").as("item"), col("n_chars"),
        explode(sequence(lit(0), lit(4))).as("annotator"))
      .select(col("item"), col("annotator"), expr(
        """CASE WHEN cast(conv(substring(md5(concat('ann', annotator, ':', item)), 1, 4), 16, 10) as int) % 10 < annotator
                THEN cast(conv(substring(md5(concat('ann', annotator, ':', item)), 5, 4), 16, 10) as int) % 3
                ELSE CASE WHEN n_chars < 250 THEN 0
                          WHEN n_chars < 350 THEN 1 ELSE 2 END
           END""").as("label"))

  /** Deterministic pairwise model duels over the documents table (the q59
   * in-query derivation pattern, so the DuckDB oracle rebuilds the SAME
   * comparisons): 5 models with strengths s_m = 10−m contest each of the
   * 10 unordered pairs on each doc; ~1/4 of (doc, pair) slots produce a
   * comparison (an md5 participation roll — sparse campaigns are the
   * norm), and the winner is drawn by a second md5 roll with
   * P(lo wins) = s_lo/(s_lo+s_hi) — so every pair's true rate is a known
   * rational and the Wilson bounds are exercised across 52%…77%. */
  private def modelDuels(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id").as("item"), explode(sequence(lit(0), lit(3))).as("ma"))
      .select(col("item"), col("ma"), explode(expr("sequence(ma + 1, 4)")).as("mb"))
      .where(expr(
        "cast(conv(substring(md5(concat('duel', ma, ':', mb, ':', item)), 1, 4), 16, 10) as int) % 4 = 0"))
      .select(col("item"), col("ma").as("model_a"), col("mb").as("model_b"),
        expr(
          """CASE WHEN cast(conv(substring(md5(concat('duel', ma, ':', mb, ':', item)), 5, 4), 16, 10) as int) % (20 - ma - mb) < 10 - ma
                  THEN ma ELSE mb END""").as("winner"))

  /** (id, reference, candidate) pairs for the generation-eval queries
   * (q160/q161): candidate = reference with every ~1/5th word dropped by a
   * deterministic md5 roll (the q143 derived-data discipline). A lazy
   * `persist` reuse point (NOT a localCheckpoint — construction must run
   * zero jobs, ConstructionJobsSpec): the per-word md5 is the expensive
   * part and every gram order re-reads the same pair table; because the
   * cache is keyed on the PLAN, q160/q161/q163 share one materialization
   * within a session — PersistLifecycleSpec pins the single cache entry —
   * and the reuse point is tracked so `Checkpoints.release` can free it
   * (VERDICT r13 #3/#4). Repartitioned first: the per-word md5 roll and
   * the downstream multi-order gram explosion are the heavy per-row work
   * of these queries, and a compact corpus can arrive as ONE scan
   * partition (sf0.1 is a single parquet file — measured 1-task, 8 s);
   * the raw-text round-robin is a fraction of the gram-census shuffles
   * that follow, and sizes with the session's parallelism, not a magic
   * constant. */
  private def dropoutPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.Checkpoints.reusePoint(Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(
      col("doc_id").as("id"), col("text").as("reference"),
      expr(
        """array_join(filter(transform(split(text, ' '), (w, p) ->
             CASE WHEN cast(conv(substring(md5(concat('drop', doc_id, ':', p)), 1, 4), 16, 10) as int) % 5 = 0
                  THEN NULL ELSE w END), x -> x IS NOT NULL), ' ')""")
        .as("candidate")))

  /** The trio-shared tagged gram census of one dropout-pair side, orders
   * 1..4 — q160/q161/q163 all consume THIS frame (q160 filtered to
   * n ≤ 2), so a session running the whole trio derives each side's
   * census once instead of three times (VERDICT r15 #7; the
   * q31/q92/q112 docShingles-sharing discipline). A tracked lazy
   * `persist` reuse point like [[dropoutPairs]] itself: plan-keyed, so
   * the three consumers substitute one materialization; construction runs
   * zero jobs
   * (ConstructionJobsSpec); releasable via `Checkpoints.release`. */
  private def trioCensus(s: SparkSession, d: String, side: String): DataFrame =
    graft.operators.Checkpoints.reusePoint(
      TextEval.gramCensus(dropoutPairs(s, d), side, maxN = 4))

  /** embeddings → (id, vec) in double precision. */
  private def embVecs(s: SparkSession, d: String, pred: Column = lit(true)): DataFrame =
    Tables.embeddings(s, d).where(pred)
      .select(col("vec_id").as("id"), V.asDouble(col("embedding")).as("vec"))

  /** ABSOLUTELY bounded 256-vector query set (the q57/q110/q120 hash60
   * bottom-k draw, one map-side `mink_by`): the r14 sf10 sweep caught
   * `vec_id % k` query sets going quadratic — queries × corpus both scale
   * with N (q148 measured 77× per decade; q110's original 453 s at sf10) —
   * the q120 lesson: a gate must stay runnable on the production corpus.
   * The oracle twin is `ORDER BY hash60('salt:'||vec_id), vec_id LIMIT
   * 256` ([[duckBoundedQ]]). */
  private def boundedQueryVecs(s: SparkSession, d: String, salt: String): DataFrame =
    embVecs(s, d).join(
      CorpusOps.sampleStratifiedBounded(Tables.embeddings(s, d),
        col("vec_id"), lit(1), quota = 256, salt = salt)
        .select(col("id")),
      "id")

  /** documents → one row per bigram occurrence, in document order:
   * (doc_id, pos, w1, w2). Narrow (array transform + posexplode). */
  private def docBigrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), T.tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(w) - 2), " +
          "i -> struct(element_at(w, i + 1) AS w1, element_at(w, i + 2) AS w2))")))
      .select(col("doc_id"), col("pos"), col("col.w1").as("w1"), col("col.w2").as("w2"))

  /**
   * Fixed-point BM25 (k1=1.2, b=0.75) for `terms` over the documents table —
   * (doc_id, score_fp, n_terms). EVERY step is 64-bit integer arithmetic so
   * the score is engine-independent bits (the q71 scaled-integer idiom):
   * avgdl is fixed-pointed to 3 decimals (A = 1000·Σdl div N), the term
   * saturation tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) becomes
   * (22000·tf·A) div (10·A·tf + 3·A + 9000·dl) — the ×1e6-scaled fraction
   * with numerator and denominator divided by their common factor 100
   * (floor-exact: ⌊ka/kb⌋ = ⌊a/b⌋) — and idf uses the exact rational
   * (2(N−df)+1)/(2df+1) ×1e3, the classic (N−df+0.5)/(df+0.5) doubled to
   * stay integral; the ×1e3 (not 1e6) idf scale is what keeps the final
   * idf·sat product in range at a BILLION documents.
   *
   * Proven overflow-free domain (FixedPointSpec replays every step in
   * BigInt): N ≤ 1e9 docs, tf ≤ 1e4, dl ≤ 1e6, avgdl ≤ 1e4 — the sat
   * numerator 2.2e4·tf·A ≤ 2.2e4·1e4·1e7 ≈ 2.2e15 and the score product
   * idf(≤2e12)·sat(≤2.2e6) ≈ 4.4e18 both clear 2^63.
   * Shapes: tiny df/stats tables broadcast; one groupBy(doc_id, term).
   */
  private def bm25Fixed(s: SparkSession, d: String, terms: Seq[String]): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("t"))
    val dl = Tables.documents(s, d)
      .select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("nn"), sum(col("dl")).as("tot")) // 1 row
    val tf = toks.where(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "t").crossJoin(broadcast(stats)).join(dl, "doc_id")
      .selectExpr("doc_id",
        "(1000 * (2 * (nn - df) + 1)) div (2 * df + 1) as idf_fp",
        "(22000 * tf * ((1000 * tot) div nn)) div " +
          "(10 * ((1000 * tot) div nn) * tf + 3 * ((1000 * tot) div nn) + 9000 * dl) as sat_fp")
      .selectExpr("doc_id", "(idf_fp * sat_fp) div 1000 as term_score_fp")
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
  }

  /** DuckDB twin of [[bm25Fixed]] as WITH-clause text binding `bm25(doc_id,
   * score_fp, n_terms)` — same fixed-point formulas, `//` for `div`. */
  private def duckBm25(terms: Seq[String]): String = {
    val lst = terms.map(t => s"'$t'").mkString(", ")
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
       tf AS (SELECT doc_id, t, count(*) AS tf FROM toks WHERE t IN ($lst) GROUP BY doc_id, t),
       dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       parts AS (SELECT doc_id,
           (1000::BIGINT * (2 * (nn - df) + 1)) // (2 * df + 1) AS idf_fp,
           (22000::BIGINT * tf * ((1000 * tot) // nn)) //
             (10::BIGINT * ((1000 * tot) // nn) * tf + 3 * ((1000 * tot) // nn) + 9000 * dl) AS sat_fp
         FROM tf JOIN dfreq USING (t) CROSS JOIN stats JOIN dl USING (doc_id)),
       bm25 AS (SELECT doc_id, CAST(sum((idf_fp * sat_fp) // 1000) AS BIGINT) AS score_fp,
                       count(*) AS n_terms
                FROM parts GROUP BY doc_id)"""
  }

  /** The fixed 3-term search query shared by q85 (BM25) and q89 (RRF). */
  private val searchTerms = Seq("join", "filter", "scan")

  /** SCD-2 validity intervals from the purchase change log — shared by q80
   * (the history build) and q91 (the point-in-time join):
   * (user_id, value, valid_from, valid_to, is_current), open intervals carry
   * a null valid_to. One shuffle on the dimension key. */
  private def scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .select(col("user_id"), round(col("value"), 4).as("value"),
        col("ts_us").as("valid_from"),
        lead(col("ts_us"), 1).over(w).as("valid_to"),
        (lead(col("ts_us"), 1).over(w).isNull).as("is_current"))
  }

  // ------------------------------------------------------------------ SQL twins
  /** DuckDB twin of [[T.shingles]] given a `ws` (split words) and `text` binding. */
  private def duckShingles(n: Int): String =
    s"""list_distinct(CASE WHEN len(ws) >= $n
          THEN list_transform(range(0, len(ws)-${n - 1}), i -> array_to_string(ws[i+1:i+$n], ' '))
          ELSE [text] END)"""

  /** DuckDB twin of [[T.hash60]] / [[T.seededHash]]. */
  private def duckHash60(e: String): String =
    s"cast(concat('0x', substr(md5($e), 1, 15)) as bigint)"

  /** DuckDB twin of `TextFunctions.gramKeyAt` — the 60-bit rotate-XOR gram
   * key over a per-word hash60 LIST column (1-based window start `i`):
   * XOR over j in [0, n) of rotl60(hs[i+j], 7·j), with the rotation's mask
   * applied BEFORE the left shift so every intermediate stays < 2^60 —
   * DuckDB RAISES on an overflowing BIGINT `<<` (it does not wrap), which
   * is why the key is 60-bit, not 64 (see gramKeyAt's scaladoc). */
  private def duckGramKey(hs: String, i: String, n: Int): String =
    (0 until n).map { j =>
      val r = (7 * j) % 60
      val h = s"$hs[$i + $j]"
      if (r == 0) h
      else s"((($h & ((CAST(1 AS BIGINT) << ${60 - r}) - 1)) << $r) | ($h >> ${60 - r}))"
    }.reduceLeft((a, b) => s"xor($a, $b)")

  /** DuckDB twin of [[boundedQueryVecs]] over a `(vec_id, v)` CTE binding. */
  private def duckBoundedQ(salt: String, from: String): String =
    s"""SELECT vec_id, v FROM $from
        ORDER BY ${duckHash60(s"'$salt:' || CAST(vec_id AS VARCHAR)")}, vec_id
        LIMIT 256"""

  /** DuckDB twin of the Jaccard-on-distinct-shingles expression, rounded. */
  private val duckJac =
    "round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))), 4)"

  /** DuckDB twin of [[V.cosine]] (same left-fold order → bit-identical). */
  /** Squared-L2 fold between two DuckDB double lists, left-to-right in index
   * order — bit-identical to Spark's `aggregate(zip_with(...))` twin. */
  private def duckD2(a: String, b: String): String =
    s"list_reduce(list_concat([0.0::DOUBLE], list_transform(list_zip($a, $b), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"

  /** DuckDB twin of [[annotatedDocs]] — identical md5 input strings, the
   * hex-cast idiom for Spark's `conv(_, 16, 10)`, same n_chars buckets. */
  private val duckAnnCte =
    """WITH ann AS (
         SELECT d.doc_id AS item, a.annotator,
           CASE WHEN CAST(concat('0x', substr(md5('ann' || CAST(a.annotator AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT) % 10 < a.annotator
                THEN CAST(concat('0x', substr(md5('ann' || CAST(a.annotator AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 5, 4)) AS INT) % 3
                ELSE CASE WHEN d.n_chars < 250 THEN 0
                          WHEN d.n_chars < 350 THEN 1 ELSE 2 END
           END AS label
         FROM documents d,
              (SELECT unnest(generate_series(0, 4)) AS annotator) a)"""

  private def duckCos(a: String, b: String): String = {
    def fsum(l: String) = s"list_reduce(list_concat([0.0::DOUBLE], $l), (x, y) -> x + y)"
    val dot = fsum(s"list_transform(list_zip($a, $b), p -> p[1] * p[2])")
    val na = s"sqrt(${fsum(s"list_transform($a, x -> x * x)")})"
    val nb = s"sqrt(${fsum(s"list_transform($b, x -> x * x)")})"
    s"($dot / ($na * $nb))"
  }

  /** Shared CTE chain for the TWO-LEVEL (coarse -> fine) IVF assignment —
   * the relational twin of [[Ivf.assignTwoLevel]] over an `e(vec_id, v)`
   * binding with the standard train-free centroid predicate (vec_id % 64
   * = 0): fine->coarse grouping (f2c, with the coarse self-membership
   * UNION mirroring the driver model), per-vector coarse argmax (v2c),
   * then the within-bucket fine argmax. Binds `cent(cid, cv)`,
   * `coarse(ccid, ccv)` and `assigned(vec_id, v, cell, ccos)`. With
   * nlist <= coarseN the hierarchy is degenerate and `assigned` equals
   * the flat argmax — q100/q168 exercise both regimes; q39/q98/q120/q162
   * consume the same chain (VERDICT r14 #2: the flat N²/64 assignment
   * carried in the PQ/probe family). */
  private def duckTwoLevelAssign(coarseN: Int): String =
    s"""cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 64 = 0),
         coarse AS (SELECT cid AS ccid, cv AS ccv FROM cent
                    ORDER BY cid LIMIT $coarseN),
         f2c AS (
           SELECT cid, ccid FROM (
             SELECT f.cid, c.ccid,
                    row_number() OVER (PARTITION BY f.cid
                      ORDER BY ${duckCos("f.cv", "c.ccv")} DESC, c.ccid ASC) AS rn
             FROM cent f CROSS JOIN coarse c) WHERE rn = 1
           UNION
           SELECT ccid AS cid, ccid FROM coarse),
         v2c AS (
           SELECT vec_id, ccid FROM (
             SELECT e.vec_id, c.ccid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${duckCos("e.v", "c.ccv")} DESC, c.ccid ASC) AS rn
             FROM e CROSS JOIN coarse c) WHERE rn = 1),
         assigned AS MATERIALIZED (
           SELECT vec_id, v, cid AS cell, cc AS ccos FROM (
             SELECT e.vec_id, e.v, f.cid, ${duckCos("e.v", "f.cv")} AS cc,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${duckCos("e.v", "f.cv")} DESC, f.cid ASC) AS rn
             FROM e JOIN v2c ON v2c.vec_id = e.vec_id
                    JOIN f2c ON f2c.ccid = v2c.ccid
                    JOIN cent f ON f.cid = f2c.cid) WHERE rn = 1)"""

  /** DuckDB twin of [[Similarity.semanticDedup]] through the TWO-LEVEL
   * (coarse -> fine) assignment ([[duckTwoLevelAssign]]), then the
   * cell-scoped pair set, the transitive closure (the q41 pattern), and
   * the least-centroid-affinity survivor ranking. Heavy CTEs
   * MATERIALIZED. */
  private def semDedupTwoLevelSql(coarseN: Int): String =
    s"""WITH RECURSIVE
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ${duckTwoLevelAssign(coarseN)},
         pairs AS MATERIALIZED (
           SELECT a.vec_id AS a, b.vec_id AS b
           FROM assigned a JOIN assigned b
             ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${duckCos("a.v", "b.v")} >= 0.3),
         sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         reach(id, peer) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.id, s.b FROM reach r JOIN sym s ON r.peer = s.a),
         labeled AS (
           SELECT id, least(id, min(peer)) AS component FROM reach GROUP BY id),
         ranked AS (
           SELECT l.component, l.id, a.cell, a.ccos,
                  row_number() OVER (PARTITION BY l.component
                                     ORDER BY a.ccos ASC, l.id ASC) AS rn
           FROM labeled l JOIN assigned a ON a.vec_id = l.id)
         SELECT component AS cluster_id, min(cell) AS cell,
                min(CASE WHEN rn = 1 THEN id END) AS keep_id,
                count(*) AS n_members,
                string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
         FROM ranked GROUP BY component ORDER BY cluster_id"""

  // ===================================================================== queries

  val queries: Map[String, Q] = Map(
    // ---------------------------------------------------------------- text analysis
    "q26_token_stats" -> ((s, d) => {
      val doc = Tables.documents(s, d)
      doc.select(
        col("doc_id"),
        size(T.tokens(col("text"))).as("n_tokens"),
        size(T.regexTokens(col("text"))).as("n_re_tokens"),
        size(array_distinct(T.tokens(col("text")))).as("n_distinct"))
        .orderBy(col("doc_id"))
    }),

    "q27_quality_score" -> ((s, d) => {
      // heuristic doc-quality: token count, stopword ratio, mean token length,
      // composite score — all integer/double math shared with the oracle
      val w = T.tokens(col("text"))
      val nTok = size(w).cast("double")
      val nStop = size(filter(w, x => x.isin("the", "a"))).cast("double")
      val stopRatio = nStop / nTok
      Tables.documents(s, d).select(
        col("doc_id"),
        nTok.cast("int").as("n_tokens"),
        round(stopRatio, 4).as("stop_ratio"),
        round((length(col("text")) - (nTok - 1)) / nTok, 4).as("mean_tok_len"),
        round(least(lit(1.0), nTok / 50.0) * (lit(1.0) - stopRatio), 4).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q28_langid" -> ((s, d) => {
      // n-gram/marker language-ID heuristic: score each language by marker-token
      // hits, argmax with a fixed priority tie-break. (The corpus vocabulary is
      // language-independent, so this validates the machinery, not linguistics.)
      val w = T.tokens(col("text"))
      def score(markers: String*): Column =
        size(filter(w, x => x.isin(markers: _*)))
      Tables.documents(s, d).select(
        col("doc_id"),
        score("the", "a", "fast").as("s_en"),
        score("table", "row", "merge").as("s_de"),
        score("line", "column", "sort").as("s_fr"),
        score("data", "value", "stream").as("s_es"),
        score("key", "hash", "scan").as("s_zh"))
        .select(
          col("doc_id"),
          when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es"), col("s_zh")), "en")
            .when(col("s_de") >= greatest(col("s_fr"), col("s_es"), col("s_zh")), "de")
            .when(col("s_fr") >= greatest(col("s_es"), col("s_zh")), "fr")
            .when(col("s_es") >= col("s_zh"), "es")
            .otherwise("zh").as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    "q29_fingerprint" -> ((s, d) => {
      // document fingerprinting: exact content hash + winnowing-style minimum
      // shingle hash (stable under edits away from the minimum)
      Tables.documents(s, d).select(
        col("doc_id"),
        md5(col("text")).as("content_md5"),
        // native min-hash kernel when registered (the HOF transform+md5 runs
        // interpreted); value-identical either way
        (if (s.catalog.functionExists("min_hash60"))
          call_function("min_hash60", shingleExpr(s, col("text"), 3))
        else T.fingerprint(col("text"))).as("shingle_fp"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------- dedup family
    "q30_dedup_exact" -> ((s, d) => {
      // exact dedup by content hash over a corpus with injected exact duplicates
      // (every 7th doc re-appears under id+100000): one groupBy(md5) shuffle
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dups = base.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.exact(base.unionAll(dups), col("doc_id"), col("text"))
        .select(col("keep_id"), col("group_size"))
        .orderBy(col("keep_id"))
    }),

    "q31_dedup_jaccard" -> ((s, d) => {
      // exact n-gram Jaccard via Dedup.allPairsJaccard, which dispatches on
      // the postings census between the counting co-occurrence join (jac
      // from counts, no per-pair array work) and the prefix-pigeonhole join
      // with an inline hash gate. A plain prefix filter with a per-pair
      // verify lost to counting here (49 s vs 6 s at sf0.1): this corpus's
      // vocabulary is tiny and uniformly common, so prefixes alone prune
      // nothing.
      // Df-cap vs oracle: the DuckDB twin stays the unguarded quadratic, so
      // the hash gate holds only while no shingle's df exceeds the 10k cap —
      // true at every oracle scale factor by construction (≤5000 docs). A
      // corpus where the cap binds diverges by the documented star-recall
      // concession; that is the same contract as the LSH queries (q32).
      // materialize ONCE (the q112 pattern): the df-capped join reads the
      // shingle table four ways (census, both pair-join sides, hot split) —
      // without the checkpoint the extraction re-runs from parquet each time
      Dedup.allPairsJaccard(
          docShingles(s, d, 2, col("doc_id") % 3 === 0).localCheckpoint(), 0.5)
        .orderBy(col("a"), col("b"))
    }),

    "q92_containment_dedup" -> ((s, d) =>
      // asymmetric near-dup: containment |A∩B|/|A| over directed pairs finds
      // documents that are EXCERPTS of a larger one — Jaccard's union
      // denominator hides exactly those. Counts-only postings join (q31
      // shape), fixed-point ratio ≥ 0.8 (engine-independent bits).
      // materialize ONCE — the q31/q112 multi-consumer checkpoint pattern
      Dedup.containmentPairs(
          docShingles(s, d, 2, col("doc_id") % 3 === 0).localCheckpoint(), 800000L)
        .orderBy(col("a"), col("b"))),

    "q32_dedup_minhash_lsh" -> ((s, d) => {
      // the scale path: MinHash(36) → 12 bands × 3 rows → bucket equi-join →
      // exact Jaccard verification of candidates only. Band choice: the corpus's
      // weakest true pair sits at jac=0.82 → miss prob (1-0.82^3)^12 ≈ 7e-5,
      // while the false-candidate rate at the word-salad background sim (~0.2)
      // stays ~10x lower than 2-row bands. The oracle is the full quadratic
      // scan — a hash match PROVES the LSH recall on this corpus.
      // materialize the shingle frame ONCE (the q112/q97 multi-consumer
      // rule): candidates, the hash gate's two sides and the exact verify's
      // two sides all read it — without the checkpoint the extraction runs
      // up to 5x per visit now that the bench no longer seeds it
      val docs = docShingles(s, d, 2).localCheckpoint()
      val candidates = Dedup.minhashCandidates(docs, k = 36, bands = 12)
      Dedup.verifyJaccardGated(candidates, docs, 0.8)
        .orderBy(col("a"), col("b"))
    }),

    "q33_dedup_simhash" -> ((s, d) => {
      // SimHash-62 near-dup at the PRODUCTION threshold — the r15 rework of
      // the round's one confirmed quadratic (the old form was the all-pairs
      // simhashPairs at ham ≤ 12: 43× per decade in the r15 sf10 sweep, the
      // exact defect class q34's τ = 0.3 exposed — a threshold so loose no
      // index prunes, PLANS.md r14 §4). Production ham ≤ 3 makes the
      // pigeonhole banding real (4 chunks × 15-16 bits = 32k-65k buckets
      // per band), and — as this corpus has no natural ham ≤ 3 pairs —
      // detection is non-vacuous by PLANTED twins (the q34/q90 derived-
      // snapshot discipline): every %15 doc of the %3 slice gains an
      // IDENTICAL-text copy at id + 1e9. Identical shingles ⇒ identical
      // signature ⇒ ham 0, and simhashCandidatesGuarded pairs identical
      // full signatures through its dedicated unguarded channel, so twin
      // recall is STRUCTURAL under any hot-bucket degradation. The oracle
      // is the full quadratic scan over the same derived corpus.
      val base = docShingles(s, d, 2, col("doc_id") % 3 === 0)
      val guardedId = when(col("id") < 1000000000L, col("id"))
        .otherwise(raise_error(concat(
          lit("q33 twin offset 1000000000 collides with real doc_id "),
          col("id").cast("string"))).cast("long"))
      val corpus = base.select(guardedId.as("id"), col("shingles"))
        .unionByName(base.where(col("id") % 15 === 0)
          .select((col("id") + 1000000000L).as("id"), col("shingles")))
      Dedup.simhashCandidatesGuarded(corpus, 3)
        .orderBy(col("a"), col("b"))
    }),

    "q34_embed_neardup" -> ((s, d) => {
      // embedding-cosine near-dups via the LSH-banded scale path, exact
      // cosine verify, gated against the full quadratic DuckDB oracle. r14
      // REWORK (the first real sf10 sweep OOM-killed the original): τ = 0.3
      // with 2-bit × 16-table banding was NOT LSH-able — at a 72° angle the
      // required per-table collision rate forces keys so small (4 buckets)
      // that in-bucket candidates EXCEED the all-pairs join (3e9+ rows at
      // sf10, [SPILL_OUT_OF_MEMORY]); no index structure prunes at that
      // looseness, which is math, not a tuning miss. Production near-dup is
      // τ ≥ 0.9 — this corpus has no natural ≥ 0.9 pairs (max 0.459), so
      // detection is non-vacuous by PLANTED twins (the q90/q143 derived-
      // snapshot discipline): every %25 vector gains a ×2-SCALED copy.
      // Scaling by 2 is IEEE-exact, so the twin's hyperplane signature is
      // BIT-IDENTICAL to its original (every projection doubles, signs
      // unchanged) — and since r15 nearDupLsh pairs identical-FULL-signature
      // ids through a dedicated exact channel, the twin pair is enumerated
      // REGARDLESS of hot-bucket degradation: recall truly is structural,
      // not fixture-scale luck (the r14 form routed twins through the
      // guarded star fallback, which could drop the direct twin edge under
      // signature concentration). 20-bit × 8-table keys on the r15
      // array-of-long signatures (the single-long form capped 8 tables at
      // 7 bits = 128 buckets/table, grinding ~10^8 verify pairs / 277 s at
      // sf10; 2^20 buckets cut the per-table collision rate of the ~0.46-
      // cos background from 0.652^7 to 0.652^20 ≈ 2e-4) — the key-bits-
      // per-BAND doctrine made a parameter.
      val base = embVecs(s, d, col("vec_id") % 5 === 0)
      val guardedId = when(col("id") < 1000000000L, col("id"))
        .otherwise(raise_error(concat(
          lit("q34 twin offset 1000000000 collides with real vec_id "),
          col("id").cast("string"))).cast("long"))
      val corpus = base.select(guardedId.as("id"), col("vec"))
        .unionByName(base.where(col("id") % 25 === 0)
          .select((col("id") + 1000000000L).as("id"),
            transform(col("vec"), x => x * 2).as("vec")))
      Similarity.nearDupLsh(corpus, dim = 64, threshold = 0.9,
          bitsPerTable = 20, nTables = 8)
        .orderBy(col("a"), col("b"))
    }),

    // ---------------------------------------------------------------- similarity search
    "q35_knn_cosine" -> ((s, d) => {
      // exact brute-force top-10 cosine neighbors for the query subset —
      // broadcast the queries, scan the corpus once, per-query window top-k.
      // The query set is ABSOLUTELY bounded (256 ids by the hash60 bottom-k
      // draw) — the r14 sf10 sweep caught the original `% 100` corpus
      // fraction at 22× per decade (queries × corpus both scale with N)
      Similarity.knnBruteForce(
        corpus = embVecs(s, d),
        queries = boundedQueryVecs(s, d, "q35"),
        k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q36_ann_lsh" -> ((s, d) => {
      // approximate variant: random-hyperplane signature buckets + 1-bit
      // multi-probe, exact re-rank inside candidates. The signature is pure
      // md5 parity, so the DuckDB oracle below reproduces the SAME approximate
      // index — recall vs q35 is additionally asserted in SimilaritySpec.
      // Bounded 256-id query set (the q35 rationale; was 13× per decade)
      Similarity.annLsh(
        corpus = embVecs(s, d),
        queries = boundedQueryVecs(s, d, "q36"),
        dim = 64, nBits = 8, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q39_ivf_ann" -> ((s, d) => {
      // IVF-Flat index: deterministic coarse centroids (every 64th vector),
      // nearest-centroid cell assignment as a narrow map, nprobe=3 probed
      // cells per query, exact-cosine re-rank via the bounded-heap topk_by.
      // The whole index is deterministic, so the DuckDB oracle below rebuilds
      // the SAME index — the approximate result is itself oracle-gated.
      // the centroid MODEL stays a DataFrame end to end (r16 — VERDICT r15
      // #5): selection is a filter, the fine→coarse grouping computes in
      // Spark, and assignment broadcast-joins the group table — no O(nlist)
      // driver collect at any scale (Ivf.centroidTable / searchFromTable;
      // value-identical to the collected path, pinned by IvfSpec)
      val corpus = embVecs(s, d)
      val cents = Ivf.centroidTable(corpus, col("id") % 64 === 0)
      Ivf.searchFromTable(
        corpus = corpus,
        queries = embVecs(s, d, col("vec_id") % 100 === 0),
        centTable = cents, nprobe = 3, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q41_neardup_clusters" -> ((s, d) => {
      // the full dedup pipeline end-to-end: MinHash-LSH candidates → exact
      // Jaccard verify (the q32 pairs) → connected components → one cluster
      // row per survivor (= min id), with the member list
      val docs = docShingles(s, d, 2).localCheckpoint() // multi-consumer rule
      val pairs = Dedup.verifyJaccardGated(Dedup.minhashCandidates(docs, 36, 12), docs, 0.8)
      Dedup.components(pairs)
        .groupBy(col("component").as("keep_id"))
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("id"))),
            x => x.cast("string")), ",").as("members"))
        .orderBy(col("keep_id"))
    }),

    // ---------------------------------------------------------------- sessionization
    "q40_sessionize" -> ((s, d) => {
      // session_window (streaming-capable dynamic-gap sessions) in batch mode:
      // per-user sessions split at >= 30 min inactivity; start exported as
      // epoch micros for an engine-neutral compare
      graft.streaming.StreamingExtraction
        .sessionizedUserStats(Tables.events(s, d), gap = "30 minutes")
        .select(unix_micros(col("session_start")).as("sess_us"),
          col("user_id"), col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("user_id"), col("sess_us"))
    }),

    // ---------------------------------------------------------------- corpus prep
    "q42_stratified_sample" -> ((s, d) =>
      // exact-quota deterministic sample: 25 docs per source, drawn by
      // md5(salt:id) hash order — reproducible, no RNG state
      CorpusOps.sampleStratified(Tables.documents(s, d),
        col("doc_id"), col("source"), quota = 25, salt = "s42")
        .select(col("source"), col("sample_rank"), col("doc_id"))
        .orderBy(col("source"), col("sample_rank"))),

    "q43_corpus_shuffle" -> ((s, d) =>
      // deterministic pre-training shuffle: a salt-keyed md5 permutation,
      // realized as a range-partitioned sort (no global row_number)
      CorpusOps.deterministicShuffle(Tables.documents(s, d),
        col("doc_id"), salt = "epoch-0")
        .select(col("doc_id"), col("shuffle_key"))),

    "q57_sample_bounded" -> ((s, d) =>
      // the bounded-heap stratified sampler: same exact-quota contract as
      // q42, but the per-stratum minima come from the native mink_by
      // aggregate (map-side truncation to quota) instead of a full
      // window sort — the plan that survives a mega-stratum. The draw key
      // is hash60 (exact long order), reproduced verbatim by the oracle.
      CorpusOps.sampleStratifiedBounded(Tables.documents(s, d),
        col("doc_id"), col("source"), quota = 25, salt = "s57")
        .select(col("stratum").as("source"), col("sample_rank"),
          col("id").as("doc_id"))
        .orderBy(col("source"), col("sample_rank"))),

    "q44_decontaminate" -> ((s, d) => {
      // benchmark decontamination: the held-out set is every 97th doc; any
      // corpus doc sharing a word 5-gram with it (or in it) is dropped
      val all = docShingles(s, d, 5)
      CorpusOps.decontaminate(all, all.where(col("id") % 97 === 0))
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "q146_contamination_report" -> ((s, d) => {
      // the GRADED sibling of q44's binary gate: per non-benchmark doc, the
      // permille of its distinct 5-grams found anywhere in the benchmark
      // gram set — the distribution a contamination-threshold policy reads
      // before choosing its cut (every 7th doc plays the benchmark: wide
      // enough that the report shows the full overlap spread, 18‰-987‰ at
      // the oracle scale). Broadcast gram probe + map-side census; only
      // contaminated docs emit.
      CorpusOps.contaminationReport(
          docShingles(s, d, 5),
          docShingles(s, d, 5, col("doc_id") % 7 === 0))
        .select(col("id").as("doc_id"), col("n_grams"), col("n_hit"),
          col("overlap_pm"))
        .orderBy(col("doc_id"))
    }),

    "q147_char_diversity" -> ((s, d) =>
      // char-level repetition/diversity gates — the sub-word boilerplate
      // detectors (encoding glitches, separator runs, base64 blobs) that
      // q62's word-level signals can't see. The entropy gate is Rényi-2
      // (inverse Simpson = effective alphabet size) in EXACT ×1e3 fixed
      // point — an entropy filter with zero libm calls, so the score is
      // engine-independent bits. Pure scalar per row: array folds inside
      // the scan, zero shuffles before the ORDER BY — scan-speed at 100 TB.
      CorpusOps.charDiversity(Tables.documents(s, d), col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_chars"), col("n_distinct_chars"),
          col("collision_ppm"), col("eff_alpha_fp"), col("max_run"), col("ws_ppm"))
        .orderBy(col("doc_id"))),

    "q148_truncation_recall" -> ((s, d) =>
      // Matryoshka-style truncation audit: before an ANN index switches to
      // prefix-truncated embeddings (4× memory cut at dim 64→16), measure
      // per query what the truncation does to retrieval — the true top-1's
      // rank under the truncated metric (NULL = lost) and the top-10
      // overlap. Both passes are the q35 machinery (queries broadcast,
      // corpus scanned shuffle-free, bounded-heap top-k); the audit joins
      // touch only the Q×k checkpointed results. Bounded 256-id query set
      // (the q35 rationale; was the worst carrier at 77× per decade)
      Similarity.truncationRecall(
        corpus = embVecs(s, d),
        queries = boundedQueryVecs(s, d, "q148"),
        dim = 16, k = 10)
        .orderBy(col("query_id"))),

    "q149_annotator_agreement" -> ((s, d) =>
      // label-QA: pairwise Cohen's kappa over the 5 derived annotators —
      // the report a labeling pipeline reads before trusting its labels
      // (drop annotators whose kappa vs everyone collapses). Exact fixed
      // point end-to-end, floor-division kappa so negative agreement is
      // engine-identical; one equi-join on item + a 10-row aggregate.
      Annotations.annotatorAgreement(annotatedDocs(s, d), nClasses = 3)
        .orderBy(col("a1"), col("a2"))),

    "q150_label_consolidation" -> ((s, d) =>
      // majority-vote consolidation of the same annotations: winning label
      // (ties to the smallest id), vote margin, unanimity — the consensus
      // table training actually consumes. Two chained aggregates on one
      // item partitioning, argmax via max(struct), no window.
      Annotations.consolidateLabels(annotatedDocs(s, d))
        .select(col("item").as("doc_id"), col("n_votes"), col("top_label"),
          col("top_votes"), col("unanimous"))
        .orderBy(col("doc_id"))),

    "q151_fleiss_kappa" -> ((s, d) =>
      // the campaign-level agreement number (Fleiss generalizes Cohen to
      // n raters): one row — mean within-item agreement, quantized chance
      // agreement, floor-division kappa — all exact fixed point. Summaries
      // are driver-sized at any corpus; items without exactly 5 ratings
      // are excluded per the classic formulation and counted.
      Annotations.fleissKappa(annotatedDocs(s, d), ratersPerItem = 5)),

    "q152_annotator_confusion" -> ((s, d) =>
      // who disagrees with the consensus and HOW: per (annotator, given
      // label, consensus label) cell counts + annotator-relative share —
      // the table that decides retraining vs dropping an annotator.
      // Bounded at annotators × labels² rows for any corpus.
      Annotations.annotatorConfusion(annotatedDocs(s, d))
        .orderBy(col("annotator"), col("label"), col("consensus_label"))),

    "q153_krippendorff_alpha" -> ((s, d) =>
      // the MISSING-data agreement coefficient (real campaigns are
      // sparse): each annotator skips ~1/6 of items by an md5 roll, so
      // per-item rating counts vary 2..5 and alpha's 1/(m−1) coincidence
      // weights — exact integers via the ×12 LCM scaling — are genuinely
      // exercised. One output row at any corpus size.
      Annotations.krippendorffAlpha(
        annotatedDocs(s, d).where(expr(
          "cast(conv(substring(md5(concat('skip', annotator, ':', item)), 1, 4), 16, 10) as int) % 6 != annotator")),
        maxRaters = 5)),

    "q154_retrieval_metrics" -> ((s, d) =>
      // retrieval-eval report over the q35 run: per query, MRR / DCG /
      // nDCG@10 / recall@10 under same-label relevance — the scorecard an
      // encoder or index change must beat before it ships. The only
      // transcendental (log2 rank discounts) is evaluated ONCE on the
      // driver and plan-embedded as integer literals, so every metric is
      // exact fixed point; the run is broadcast against the label scan,
      // zero corpus shuffles.
      Retrieval.labelRetrievalMetrics(
        run = Similarity.knnBruteForce(
          corpus = embVecs(s, d),
          // bounded 256-id query set (the q35 rationale; was 68×/decade)
          queries = boundedQueryVecs(s, d, "q154"), k = 10)
          .select(col("query_id"), col("rank"), col("neighbor_id")),
        labels = Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("label")),
        k = 10)
        .orderBy(col("query_id"))),

    "q155_pairwise_winrate" -> ((s, d) =>
      // preference-data QA: per model pair, win counts and the z=2 Wilson
      // interval for the lo side's true win rate — the
      // confidence-aware table a pairwise-eval ranking reads instead of
      // raw win shares. One map-side-combinable aggregate to 10 rows; the
      // single sqrt is the quantized-isqrt contract, so the bounds are
      // engine-identical bits.
      Preferences.pairwiseWinRates(modelDuels(s, d))
        .orderBy(col("model_lo"), col("model_hi"))),

    "q156_dawid_skene" -> ((s, d) =>
      // Dawid–Skene truth inference over the 5-annotator labeling: two
      // unrolled EM rounds re-weight each annotator by its estimated
      // confusion, so reliable annotators overturn noisy majorities —
      // the upgrade of q150's majority vote. All-‰-quantized integer
      // posteriors; per-round state is localCheckpoint-materialized.
      Annotations.dawidSkene(annotatedDocs(s, d), nClasses = 3, rounds = 2)
        .select(col("item").as("doc_id"), col("mv_label"), col("ds_label"),
          col("changed"))
        .orderBy(col("doc_id"))),

    "q157_ann_scorecard" -> ((s, d) => {
      // "does the index ship?" — the q154 scorecard computed TWICE, once
      // over the exact brute-force run and once over the q36 LSH-ANN run,
      // joined per query into metric deltas: the report that decides
      // whether the approximate index's recall/nDCG loss is acceptable.
      // Both runs are deterministic (md5-parity signatures), so the
      // approximate side is itself oracle-gated, not just sanity-checked.
      // A query the ANN misses entirely (empty probe buckets) surfaces as
      // NULL ann_* columns via the left join — counted, never dropped.
      // Bounded 256-id query set (the q35 rationale; was 16×/decade)
      val corpus = embVecs(s, d)
      val queries = boundedQueryVecs(s, d, "q157")
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("label"))
      def score(run: DataFrame, p: String) =
        Retrieval.labelRetrievalMetrics(
          run.select(col("query_id"), col("rank"), col("neighbor_id")),
          labels, k = 10)
          .select(col("query_id"), col("n_rel"),
            col("mrr_ppm").as(s"${p}_mrr_ppm"),
            col("ndcg_pm").as(s"${p}_ndcg_pm"),
            col("recall_pm").as(s"${p}_recall_pm"))
      val exact = score(Similarity.knnBruteForce(corpus, queries, k = 10), "exact")
      val ann = score(
        Similarity.annLsh(corpus, queries, dim = 64, nBits = 8, k = 10), "ann")
      // both metric tables are Q-row by contract — the delta join broadcasts
      exact.join(broadcast(ann.drop("n_rel")), Seq("query_id"), "left")
        .select(col("query_id"), col("n_rel"),
          col("exact_ndcg_pm"), col("ann_ndcg_pm"),
          (col("exact_ndcg_pm") - col("ann_ndcg_pm")).as("ndcg_delta_pm"),
          col("exact_recall_pm"), col("ann_recall_pm"),
          (col("exact_recall_pm") - col("ann_recall_pm")).as("recall_delta_pm"),
          col("exact_mrr_ppm"), col("ann_mrr_ppm"))
        .orderBy(col("query_id"))
    }),

    "q158_bradley_terry" -> ((s, d) =>
      // the ranking layer above q155's pairwise win rates: one fitted
      // Bradley–Terry strength per model (2 unrolled MM rounds, exact
      // ×1e6 fixed point). The duels are planted with true strengths
      // 10−m, recovered in expectation (model 0 tops every scale; mid
      // ranks can swap under small-sample noise — the fit ranks the
      // OBSERVED duels, which is the point of fitting rather than
      // assuming).
      Preferences.bradleyTerry(modelDuels(s, d), rounds = 2)
        .orderBy(col("strength_fp").desc, col("model"))),

    "q159_krippendorff_distance" -> ((s, d) => {
      // q153's sparse campaign scored under all three distance metrics:
      // nominal (any disagreement equal), interval (squared label
      // distance), ordinal (squared margin distance) — the table a rating
      // campaign reads to see how much "near-miss" structure the nominal
      // coefficient was hiding. Labels are ordered severities (0 < 1 < 2
      // by n_chars), so interval/ordinal are the honest coefficients here.
      // BOUNDED-SUMMARY fold (the r14 rework, measured against persist-4
      // and logical-sharing variants — 4.10 → 1.81 s at sf0.1): the corpus
      // folds ONCE into per-item label-census arrays — never a corpus
      // self-join — and only the ≤ classes²-row pairMass + classes-row
      // classMass + 1-row stats summaries persist, as tracked
      // Checkpoints.reusePoints (Annotations.krippendorffAlphaMetrics)
      val sparse = annotatedDocs(s, d).where(expr(
        "cast(conv(substring(md5(concat('skip', annotator, ':', item)), 1, 4), 16, 10) as int) % 6 != annotator"))
      Annotations.krippendorffAlphaMetrics(sparse, maxRaters = 5,
          Seq("nominal", "interval", "ordinal"))
        .orderBy(col("metric"))
    }),

    "q160_rouge_eval" -> ((s, d) => {
      // generation-eval over (reference, candidate) pairs — the metric a
      // summarization/distillation pipeline gates outputs with: ROUGE-1 and
      // ROUGE-2 precision/recall/F1 with the OFFICIAL multiset clipping
      // (min of the two occurrence counts per gram — a candidate repeating
      // one reference gram scores it once per reference occurrence).
      // Candidates are derived deterministically: every ~1/5th word drops
      // by an md5 roll (the q143 derived-data discipline), so recall lands
      // ~800‰ at n=1 and lower at n=2 (each drop kills two bigrams), while
      // n=2 precision < 1000 proves the clip is real (dropout creates
      // bigrams the reference never had). The gramless-side NULL contract
      // is pinned in TextEvalSpec (this corpus has no sub-n docs).
      // both orders from the trio-SHARED 1..4 census (filtered to n ≤ 2 —
      // identical rows to a maxN=2 census by construction), so q160/q161/
      // q163 in one session pay one census derivation per side; census
      // keys are the r16 per-word rotate-XOR gram keys (one md5 per WORD,
      // not per gram — TextFunctions.gramKeyAt)
      TextEval.rougeNOrdersFromCensus(dropoutPairs(s, d),
          trioCensus(s, d, "reference").where(col("n") <= 2),
          trioCensus(s, d, "candidate").where(col("n") <= 2), maxN = 2)
        .orderBy(col("n"), col("id"))
    }),

    "q161_bleu_precisions" -> ((s, d) =>
      // the BLEU side of the generation-eval pair: modified (clipped)
      // n-gram precisions for orders 1..4 over the SAME derived pairs as
      // q160, all orders censused in ONE tagged pass (one shuffle per
      // side, not four), plus the ×1e3 length ratio the brevity penalty
      // composes from. The exp/log composite is deliberately left to
      // consumers — the per-order precisions and the length ratio are the
      // engine-exact, auditable parts. Orders above a short candidate's
      // token count exercise the NULL-precision contract corpus-wide.
      TextEval.bleuPrecisionsFromCensus(dropoutPairs(s, d),
          trioCensus(s, d, "reference"), trioCensus(s, d, "candidate"),
          maxN = 4)
        .orderBy(col("n"), col("id"))),

    "q163_corpus_generation_eval" -> ((s, d) =>
      // the CORPUS-level gate above q160/q161 (VERDICT r12 #5): one row of
      // micro-averaged ROUGE-1/2 F1 and corpus BLEU-4 over the same derived
      // pairs — counts pool BEFORE the ratios (Σ clipped / Σ totals per
      // order), which is NOT the mean of per-sentence scores; the
      // hand-fixture proof of that trap is in TextEvalSpec. The composite
      // is engine-exact end to end: integer fourth root for the geometric
      // mean (nested floor-√, IEEE-correctly-rounded in both engines) and
      // a driver-evaluated 201-entry brevity-penalty literal grid (the
      // q154 transcendental technique). Same one-tagged-census-per-side
      // plan as q161, collapsing to ≤4-row per-order sums + one broadcast
      // combine — no windows, 1-row output.
      TextEval.corpusGenerationEvalFromCensus(dropoutPairs(s, d),
        trioCensus(s, d, "reference"), trioCensus(s, d, "candidate"))),

    "q164_sequence_packing" -> ((s, d) =>
      // concat-and-chunk packing — the doc-SPLITTING convention, complement
      // of q94's next-fit (which never splits a doc and wastes each bin's
      // tail): token streams concatenate in doc_id order and cut into
      // 256-token training sequences; output is each document's placement
      // (global offset, first/last chunk, span). The global prefix sum is
      // the TWO-LEVEL construction — per-bucket totals (bounded summary,
      // the only unpartitioned window) + intra-bucket windows partitioned
      // by range-contiguous doc_id div 1000 buckets, parallel across the
      // cluster — never a single-partition window over the corpus. The
      // oracle uses the naive global window (exact integer addition
      // reassociates) and matches bit-for-bit.
      Packing.packingPlan(Tables.documents(s, d), chunkTokens = 256,
          bucketSpan = 1000L)
        .orderBy(col("doc_id"))),

    "q165_packing_report" -> ((s, d) =>
      // the one-row packing-efficiency gate over q164's placement: total
      // tokens, chunk count, tail padding (the only padding this packing
      // produces), boundary-crossing docs (attention-mask fragmentation)
      // and mean docs per training sequence — the numbers that decide
      // whether chunk size / ordering need retuning before a run. Collapses
      // the placement table in ONE aggregate; all integer floor division.
      Packing.packingReport(
        Packing.packingPlan(Tables.documents(s, d), chunkTokens = 256,
          bucketSpan = 1000L),
        chunkTokens = 256)),

    "q166_domain_mixture" -> ((s, d) =>
      // temperature-scaled domain mixture at ARBITRARY τ — the
      // generalization of q123, whose exact-IEEE-sqrt trick pins τ to 0.5
      // (sqrt is the only power IEEE requires correctly rounded): shares
      // quantize to permille first, so ⌊1e6·(s/1000)^τ⌋ has a BOUNDED
      // 1001-value domain and is DRIVER-evaluated once into plan literals
      // (the q154/q163 grid discipline) — any τ is now a config value, and
      // both engines consume the same integer table. Per source: natural
      // token share (‰) → grid weight → normalized mixture weight and the
      // ×1e6 up/down-sampling ratio vs natural (the column q123 lacks).
      // One #sources-row census + broadcast 1-row combines; zero corpus
      // joins, zero windows.
      Mixtures.domainMixture(Tables.documents(s, d), tauTenths = 7)
        .orderBy(col("source"))),

    "q167_domain_mixture_fine" -> ((s, d) =>
      // the ppm-resolution mixture closing q166's sub-permille cliff
      // (VERDICT r13 #5): a domain under 0.1% of corpus tokens quantizes
      // to share_pm = 0 in the permille variant and VANISHES from the
      // mixture — exactly the small domains τ < 1 exists to up-sample.
      // The fixture derives one (the q59 in-query discipline, so the
      // DuckDB twin rebuilds the SAME frame): doc 0 becomes a one-token
      // 'tiny' source (~40 ppm of sf0.01 tokens, shrinking with sf) and
      // everything else 'big'. Fine shares: overflow-safe ppm division
      // clamped to ≥ 1 for any non-empty source, 2-significant-digit
      // floor quantization (the bounded 461-value domain), exact-floor
      // ×1e9 power grid as plan literals — 'tiny' gets a NONZERO temp_wt
      // and mixture weight at τ = 0.7, upsample_fp ≫ 1e6 (heavily
      // up-sampled vs natural), while q166 on the same frame would drop
      // it. Same shape: one #sources census, broadcast 1-row combines.
      Mixtures.domainMixtureFine(
        Tables.documents(s, d).select(
          when(col("doc_id") === 0, lit("tiny")).otherwise(lit("big"))
            .as("source"),
          when(col("doc_id") === 0, lit("x")).otherwise(col("text"))
            .as("text")),
        tauTenths = 7)
        .orderBy(col("source"))),

    "q168_semantic_dedup_2level" -> ((s, d) => {
      // SemDeDup through the TWO-LEVEL (coarse → fine) assignment hierarchy
      // with coarseN = 2, so the hierarchical path is GENUINELY exercised at
      // every sf (at sf0.01 there are 4 fine centroids — q100's default
      // coarseN = 64 is degenerate there and only becomes hierarchical
      // around sf1.0, where the r14 sweep measured the flat argmax at
      // N²/64 cost). Same τ, same cell-scoped pair/cluster/survivor
      // semantics; cells differ from q100 because each vector is assigned
      // the best fine centroid WITHIN its coarse bucket, and the oracle
      // replays both stages relationally (f2c driver grouping included).
      // model-as-data path (r16): no O(nlist) centroid collect
      val corpus = embVecs(s, d)
      val cents = Ivf.centroidTable(corpus, col("id") % 64 === 0)
      Similarity.semanticDedupFromTable(corpus, cents, tau = 0.3, coarseN = 2)
        .orderBy(col("cluster_id"))
    }),

    "q67_bloom_decontaminate" -> ((s, d) => {
      // q44's decontamination through a Bloom filter instead of the exact
      // gram set: the held-out grams compress to a <=4096-bit filter (the
      // broadcast stays tiny even when the benchmark set is huge — the
      // 100 TB posture), corpus grams probe it, and a doc is maybe-
      // contaminated iff any gram has all k bits set. One-sided by
      // construction: can only over-drop vs q44, never leak. The md5-seeded
      // positions make the filter deterministic, so the oracle rebuilds the
      // identical bitset and the probe flags hash-match.
      val all = docShingles(s, d, 5)
      val bench = all.where(col("id") % 97 === 0)
        .select(explode(col("shingles")).as("gram")).distinct()
      val bits = graft.operators.Sketches.bloomBits(bench, col("gram"), m = 4096, k = 3)
      val grams = all.select(col("id"), explode(col("shingles")).as("gram"))
      graft.operators.Sketches.bloomProbe(bits, grams, col("gram"), m = 4096, k = 3)
        .groupBy(col("id"))
        .agg(sum(when(col("maybe_present"), 1L).otherwise(0L)).as("n_maybe_grams"))
        .select(col("id").as("doc_id"), col("n_maybe_grams"),
          (col("n_maybe_grams") > 0).as("maybe_contaminated"))
        .orderBy(col("doc_id"))
    }),

    "q114_span_decontaminate" -> ((s, d) => {
      // SURGICAL decontamination (PaLM/Llama): where q44 drops a whole doc
      // for one shared gram and q67 over-drops through a Bloom filter, this
      // emits the exact token intervals to cut — benchmark-matching word
      // 8-grams widened ±2 and coalesced by the gaps-and-islands window.
      // Spans are integer token coordinates, so the oracle rebuilds them
      // bit-for-bit with the same window logic.
      val toks = Tables.documents(s, d)
        .select(col("doc_id").as("id"), T.tokens(col("text")).as("w"))
      val bgrams = toks.where(col("id") % 7 === 0)
        .where(size(col("w")) >= 8)
        .select(explode(expr(
          "transform(sequence(0, size(w) - 8), " +
            "i -> array_join(slice(w, i + 1, 8), ' '))")).as("gram"))
      // (no .distinct() here — the operator dedupes its benchGrams input)
      CorpusOps.contaminatedSpans(toks.where(col("id") % 7 =!= 0), bgrams,
          n = 8, margin = 2)
        .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
          col("span_tok"))
        .orderBy(col("doc_id"), col("span_start"))
    }),

    "q115_duplicate_spans" -> ((s, d) => {
      // suffix-array-dedup OUTPUT semantics (Lee et al. 2022) via sliding
      // windows: maximal ≥10-token regions whose every 10-window occurs ≥2
      // times corpus-wide (within-doc repeats count). Complements q72
      // (non-overlapping chunks — the 8× cheaper approximation) and q106
      // (doc-level dup fraction) with the exact spans a cleaner would cut.
      // Single-pass: the operator counts occurrences with a window over the
      // digest key, so the token table is read exactly once — no checkpoint
      val toks = Tables.documents(s, d)
        .select(col("doc_id").as("id"), T.tokens(col("text")).as("w"))
      Dedup.duplicateSpans(toks, n = 10, minOcc = 2)
        .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
          col("span_tok"))
        .orderBy(col("doc_id"), col("span_start"))
    }),

    "q116_leakage_safe_split" -> ((s, d) => {
      // NEAR-dup-leakage-safe split: q101's content-hash rule pins exact
      // duplicates to one side; this closes the remaining hole (Lee et al.
      // 2022 §6 — near-duplicates of eval docs in train read as
      // memorization). The assignment unit is the connected component of the
      // verified near-dup graph (the q41 pipeline), singletons are their own
      // cluster, and the split draw hashes the cluster REPRESENTATIVE — so a
      // doc and its paraphrase can never straddle the split. The oracle
      // recomputes components by recursive transitive closure.
      val docs = docShingles(s, d, 2).localCheckpoint() // multi-consumer rule
      val pairs = Dedup.verifyJaccardGated(Dedup.minhashCandidates(docs, 36, 12), docs, 0.8)
      CorpusOps.leakageSafeSplit(Tables.documents(s, d), col("doc_id"),
          pairs, "lss", trainPct = 80, valPct = 10)
        .select(col("id").as("doc_id"), col("cluster"), col("split"))
        .orderBy(col("doc_id"))
    }),

    "q117_filter_funnel" -> ((s, d) => {
      // curation-funnel report (the RefinedWeb/FineWeb dataset-card table):
      // four quality gates applied in sequence — min length, language keep-
      // list, stopword density, type-token ratio — with per-stage in/out
      // counts and fixed-point permille yields. ONE corpus scan (every stage
      // predicate is a narrow in-row map over the token array) feeding ONE
      // bounded-output aggregation (a single row of conditional sums),
      // then a 4-row stack on the driver-sized result — scan-speed at any
      // corpus size, output size constant. Integer `div` both sides keeps
      // the yields engine-exact.
      val w = T.tokens(col("text"))
      val f = Tables.documents(s, d).select(
        size(w).cast("long").as("ntok"), col("lang"),
        size(filter(w, x => x.isin("the", "a"))).cast("long").as("nstop"),
        size(array_distinct(w)).cast("long").as("ndis"))
        .select(
          (col("ntok") >= 30).as("p1"),
          col("lang").isin("en", "de", "fr", "es").as("p2"),
          (expr("1000 * nstop div ntok") >= 20).as("p3"),
          (expr("1000 * ndis div ntok") >= 350).as("p4"))
      f.agg(
        count(lit(1)).as("s0"),
        sum(when(col("p1"), 1L).otherwise(0L)).as("s1"),
        sum(when(col("p1") && col("p2"), 1L).otherwise(0L)).as("s2"),
        sum(when(col("p1") && col("p2") && col("p3"), 1L).otherwise(0L)).as("s3"),
        sum(when(col("p1") && col("p2") && col("p3") && col("p4"), 1L)
          .otherwise(0L)).as("s4"))
        .selectExpr(
          """stack(4,
               1, 'len_ge_30',         s0, s1,
               2, 'lang_keep',         s1, s2,
               3, 'stopword_density',  s2, s3,
               4, 'ttr_ge_350',        s3, s4) AS (stage_idx, stage, n_in, n_out)""")
        // nullif: a gate that passes zero docs yields NULL for the next
        // stage (identically in the oracle), not a division error
        .withColumn("yield_pm", expr("1000 * n_out div nullif(n_in, 0)"))
        .orderBy(col("stage_idx"))
    }),

    "q118_tokenizer_fertility" -> ((s, d) => {
      // tokenizer QA (the fertility table): subwords-per-word and alpha-
      // chars-per-subword per language for the corpus-trained BPE — the view
      // that shows which languages a tokenizer under-serves (high fertility
      // = more tokens per word = costlier training and shorter effective
      // context). Reuses the persisted merge artifact (train once, apply
      // anywhere); scoring is q95's zero-shuffle replace chain with `lang`
      // carried through (join-free), then ONE |langs|-row aggregation.
      // Fixed-point permille ratios keep the report engine-exact.
      val m = Bpe.mergeArtifact(Tables.documents(s, d), rounds = 8,
        vocabSize = 1000, key = d)
      val seg = Bpe.tokenize(
        Tables.documents(s, d).withColumn("n_alpha",
          length(regexp_replace(lower(col("text")), "[^a-z]", ""))
            .cast("long")),
        m, carry = Seq("lang", "n_alpha"))
      seg.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"),
          sum(col("n_alpha")).as("n_alpha"))
        .selectExpr("lang", "n_docs", "n_words", "n_subwords", "n_alpha",
          "1000 * n_subwords div nullif(n_words, 0) AS fertility_pm",
          "1000 * n_alpha div nullif(n_subwords, 0) AS chars_per_subword_pm")
        .orderBy(col("lang"))
    }),

    "q119_dedup_impact" -> ((s, d) => {
      // dedup impact report: near-dup cluster size distribution plus the
      // doc/token mass a keep-one-per-cluster policy removes, bucketed by
      // cluster size — the ops dashboard for a dedup run (how much of the
      // corpus is boilerplate, how deep do clusters go). Components over the
      // verified pair graph; singletons enter via the q116 left join; ONE
      // corpus-side equi-join + a per-cluster aggregation + a constant
      // |buckets|-row rollup. The keeper is the min-id doc (q41's
      // convention); its tokens survive, the rest are "removed".
      val docs = docShingles(s, d, 2).localCheckpoint() // multi-consumer rule
      val pairs = Dedup.verifyJaccardGated(Dedup.minhashCandidates(docs, 36, 12), docs, 0.8)
      val comp = Dedup.componentsStar(pairs)
        .select(col("id").as("cid"), col("component"))
      val toks = Tables.documents(s, d).select(col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("n_tokens"))
      val per = toks
        .join(comp, col("doc_id") === col("cid"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"),
          col("n_tokens"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("sz"), sum(col("n_tokens")).as("tok"),
          min(struct(col("doc_id"), col("n_tokens"))).as("keep"))
      per.select(col("sz"), col("tok"),
          (col("tok") - col("keep.n_tokens")).as("tok_removed"),
          when(col("sz") === 1, lit(1)).when(col("sz") === 2, lit(2))
            .when(col("sz") <= 4, lit(3)).otherwise(lit(4)).as("bucket_ord"),
          when(col("sz") === 1, lit("1")).when(col("sz") === 2, lit("2"))
            .when(col("sz") <= 4, lit("3-4")).otherwise(lit("5+")).as("bucket"))
        .groupBy(col("bucket_ord"), col("bucket"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
          sum(col("sz") - 1).as("docs_removed"),
          sum(col("tok_removed")).as("tokens_removed"))
        .orderBy(col("bucket_ord"))
    }),

    "q120_ann_recall" -> ((s, d) => {
      // ANN index shootout — the q112 calibration pattern for the embedding
      // side: micro recall@5 of three approximate indexes (hyperplane LSH at
      // 6 and 8 bits, IVF-Flat at nprobe=3) against the exact brute-force
      // top-5, ONE row per configuration — the operational gate before
      // trusting an approximate index at corpus scale (on THIS corpus the
      // table shows LSH recall collapsing with signature width while IVF
      // holds, which is the decision the report exists to make). Every index
      // is deterministic (md5-parity hyperplanes, id-predicate centroids), so
      // the oracle rebuilds the identical comparison. Shapes: exact top-k is
      // the broadcast-queries corpus scan (q35); each config joins two
      // bounded ≤ k-per-query tables on (query, neighbor); output is
      // |configs| rows. The exact table is checkpointed once — three
      // config joins read it. The query sample is ABSOLUTELY bounded (256
      // ids by hash60 bottom-k, the q57 bounded-heap draw — one map-side
      // mink_by, never a corpus fraction), so the exact ground-truth stage
      // costs O(N·256) at ANY corpus size — a calibration gate must stay
      // runnable on the full production corpus, not scale quadratically.
      val corpus = embVecs(s, d)
      // the 256-row query frame materializes once — four consumers (exact +
      // three index configs) otherwise re-run the bounded-heap draw each
      val queries = embVecs(s, d).join(
        CorpusOps.sampleStratifiedBounded(Tables.embeddings(s, d),
          col("vec_id"), lit(1), quota = 256, salt = "q120")
          .select(col("id")),
        "id").localCheckpoint()
      val exact = Similarity.knnBruteForce(corpus, queries, k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      def recallOf(name: String, approx: DataFrame): DataFrame =
        exact.join(
            approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
            Seq("query_id", "neighbor_id"), "left")
          .agg(countDistinct(col("query_id")).as("n_queries"),
            count(lit(1)).as("n_exact"),
            coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
          .select(lit(name).as("config"), col("n_queries"), col("n_exact"),
            col("n_hit"), expr("1000000 * n_hit div n_exact").as("recall_ppm"))
      val cents = Ivf.centroidTable(corpus, col("id") % 64 === 0)
      recallOf("lsh_b6", Similarity.annLsh(corpus, queries, dim = 64, nBits = 6, k = 5))
        .unionByName(recallOf("lsh_b8",
          Similarity.annLsh(corpus, queries, dim = 64, nBits = 8, k = 5)))
        .unionByName(recallOf("ivf_p3",
          Ivf.searchFromTable(corpus, queries, cents, nprobe = 3, k = 5)))
        .orderBy(col("config"))
    }),

    "q121_winnowing" -> ((s, d) => {
      // winnowing fingerprints (Schleimer et al. 2003, the MOSS algorithm):
      // per document, hash every 3-gram, then keep the MINIMUM hash of every
      // 4-window of consecutive grams (ties → leftmost position) — the
      // guarantee-bearing selection (any shared run ≥ w+k-1 tokens shares a
      // fingerprint) at ~1/w the density of q29's full rolling-hash set.
      // Everything is SCALAR per row — gram hashing and window minima are
      // array folds inside the scan, zero shuffles before the ORDER BY — so
      // at 100 TB this runs at scan speed; the fingerprint set (not shown
      // here) would feed the q63 postings shape for cross-doc matching.
      // struct(h, p) ordering makes array_min pick the leftmost minimum.
      // Native fused kernel when registered (one O(ng) deque pass vs the
      // O(ng·w) interpreted slice-argmin HOF); value-identical either way.
      def winnowExpr(ws: Column): Column =
        if (s.catalog.functionExists("winnow_select"))
          call_function("winnow_select", ws, lit(3), lit(4))
        else T.winnow(ws, 3, 4)
      Tables.documents(s, d)
        .select(col("doc_id"), T.tokens(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("doc_id"), winnowExpr(col("ws")).as("sel"))
        .select(col("doc_id"), explode(col("sel")).as("f"))
        .select(col("doc_id"), col("f.p").as("pos"), col("f.h").as("fp"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    "q122_chunk_overlap" -> ((s, d) => {
      // RAG-style overlapping chunker: 32-token windows at stride 24 (8-token
      // overlap), tail kept — the retrieval-corpus prep step between cleaning
      // and embedding. One narrow Generate per document (start < n guarantees
      // every chunk contributes ≥ 1 new token), zero shuffles before the
      // ORDER BY — scan-speed at any corpus size. The md5 is the chunk's
      // content address for the downstream embed/dedup stages.
      CorpusOps.chunkOverlap(Tables.documents(s, d), col("doc_id"),
          col("text"), chunkTokens = 32, stride = 24)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("chunk_end"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_start"))
    }),

    "q123_temperature_mix" -> ((s, d) => {
      // temperature-scaled source mixing (the multilingual-LM α-sampling
      // rule, α = 0.5: sample ∝ p^α so low-resource sources up-weight) —
      // per-source token mass, the √-scaled weight, its corpus share, the
      // token allocation under a 10M-token budget, and the implied epochs
      // over the source (>1e6 ppm = the source repeats). ONE corpus scan
      // into a |sources|-row aggregate; every ratio is integer fixed-point
      // on a √ that both engines compute as the identical IEEE double
      // (exactly-representable integer in, correctly-rounded sqrt out), so
      // the report is engine-exact bits. The window total is a sum of
      // longs over the bounded per-source table — order-independent.
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(T.tokens(col("text"))).cast("long")).as("n_tokens"))
        .withColumn("wt",
          floor(sqrt(col("n_tokens").cast("double") * 1000000.0)).cast("long"))
        .withColumn("tw", sum(col("wt")).over(w))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("wt"),
          expr("1000000 * wt div tw").as("share_ppm"),
          expr("10000000 * wt div tw").as("alloc_tokens"),
          expr("1000000 * (10000000 * wt div tw) div n_tokens").as("epochs_ppm"))
        .orderBy(col("source"))
    }),

    "q124_line_dedup" -> ((s, d) => {
      // corpus-common-line removal with TEXT RECONSTRUCTION (the C4 rule,
      // Raffel et al. 2020 §2.2 — drop any line occurring ≥ N times in the
      // corpus): q106 FLAGS documents by duplicate-passage mass, this one
      // REWRITES them — every unit (5-token aligned chunk; the unit splitter
      // is the corpus-format knob) whose digest occurs ≥ 2 times corpus-wide
      // is cut from every document, and the surviving units re-join in
      // original order. Shapes for 100 TB: unit digesting is one narrow
      // Generate; the census is a map-side-combinable groupBy(dg) count (a
      // boilerplate unit collapses per map partition — the q115 skew
      // posture); the anti-join is a plain digest equi-join; reconstruction
      // is one per-doc sort-free aggregation (sort_array over the bounded
      // per-doc unit list). Fully-cleaned documents stay in the output with
      // empty text (md5('')), so the row count is corpus-stable.
      CorpusOps.lineDedup(Tables.documents(s, d), col("doc_id"), col("text"),
          unitTokens = 5, minOcc = 2)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    "q125_random_projection" -> ((s, d) => {
      // Johnson-Lindenstrauss ±1 random projection (64 → 16 dims) with a
      // per-vector distortion audit: the first 4 projected components plus
      // ‖p‖²/(16·‖x‖²) — the JL norm-preservation ratio whose expectation is
      // 1. The sign matrix is md5-parity-derived (model-free, any engine
      // rebuilds it); every fold is 0.0-seeded left-to-right, so doubles are
      // bit-identical to the oracle. A narrow per-row map — scan-speed at
      // any corpus size, the front-end that cuts downstream kNN/clustering
      // distances 4× (64 → 16 multiply-adds).
      val signs = V.jlSigns(64, 16)
      def sq(v: Column): Column =
        aggregate(transform(v, x => x * x), lit(0.0), (a, x) => a + x)
      embVecs(s, d)
        .select(col("id").as("vec_id"), col("vec"),
          V.jlProject(col("vec"), signs).as("proj"))
        .select(col("vec_id"),
          round(element_at(col("proj"), 1), 4).as("p0"),
          round(element_at(col("proj"), 2), 4).as("p1"),
          round(element_at(col("proj"), 3), 4).as("p2"),
          round(element_at(col("proj"), 4), 4).as("p3"),
          round(when(sq(col("vec")) === 0, 0.0)
            .otherwise(sq(col("proj")) / (lit(16.0) * sq(col("vec")))), 4)
            .as("ratio"))
        .orderBy(col("vec_id"))
    }),

    "q126_tfidf_cosine" -> ((s, d) => {
      // sparse tf-idf cosine pairs via the postings self-join — the WEIGHTED
      // twin of q31's set Jaccard (integer wt = 1000·tf div df, the q48
      // convention; cosine as exact fixed-point over isqrt'd norms). The
      // df > 50% stopword prune is the operator contract AND the scale
      // guard (Σ df² over kept terms only); doc subsample %10 keeps the
      // demo bounded on this uniformly-common 31-word vocabulary, the q31
      // concession.
      Similarity.tfidfCosinePairs(
          Tables.documents(s, d).where(col("doc_id") % 10 === 0)
            .select(col("doc_id").as("id"),
              explode(T.tokens(col("text"))).as("term")),
          maxDfDenom = 2, minCosPpm = 500000, maxDf = 10000L)
        .orderBy(col("a"), col("b"))
    }),

    "q127_knn_classify" -> ((s, d) => {
      // kNN majority-vote auto-labeling: an ABSOLUTELY bounded sample of the
      // id%10==7 slice plays the unlabeled pool (256 ids by the q57/q120
      // hash60 bottom-k draw — the r14 sf10 sweep caught the original
      // whole-slice pool going quadratic: 10% of corpus × corpus is N²/10,
      // and the run died at this query under the 8g heap), each point takes
      // the majority label of its 5 nearest labeled neighbors (ties →
      // smallest label), scored against the held-out gold label. Search is
      // the broadcast-queries corpus scan + bounded-heap top-k (q35); the
      // vote is a map-side-combined argmax per query — no window anywhere.
      // This is the auto-labeling QUALITY gate; labeling every unlabeled
      // point at corpus scale batches through the q162 persisted IVF index.
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"),
        V.asDouble(col("embedding")).as("vec"), col("label"))
      val pool = emb.where(col("id") % 10 =!= 7)
      val held = emb.where(col("id") % 10 === 7).join(
        CorpusOps.sampleStratifiedBounded(
          Tables.embeddings(s, d).where(col("vec_id") % 10 === 7),
          col("vec_id"), lit(1), quota = 256, salt = "q127")
          .select(col("id")),
        "id")
      Similarity.knnClassify(pool, held.select(col("id"), col("vec")), k = 5)
        .join(held.select(col("id").as("query_id"), col("label").as("true_label")),
          "query_id")
        .select(col("query_id"), col("pred_label"), col("votes"), col("n_votes"),
          col("true_label"),
          (col("pred_label") === col("true_label")).as("correct"))
        .orderBy(col("query_id"))
    }),

    "q128_k_anonymity" -> ((s, d) =>
      // privacy-release audit over the event log: quasi-identifiers
      // (event_type, hour, value decile-bucket), sensitive column user_id —
      // every equivalence class with < 5 members (k-anonymity) or < 3
      // distinct users (l-diversity) is flagged for suppression. ONE
      // map-side-combinable groupBy at any scale.
      CorpusOps.kAnonymityAudit(
          Tables.events(s, d).select(col("event_type"),
            hour(col("ts")).as("hh"),
            floor(col("value") / 10).cast("long").as("vbucket"),
            col("user_id")),
          Seq(col("event_type"), col("hh"), col("vbucket")),
          col("user_id"), k = 5, l = 3)
        .orderBy(col("event_type"), col("hh"), col("vbucket"))),

    "q129_semantic_decontaminate" -> ((s, d) => {
      // embedding-space decontamination: an ABSOLUTELY bounded 256-vector
      // sample of the vec_id % 10 == 0 slice plays the held-out benchmark
      // (the q57/q120 hash60 bottom-k draw), the rest the training corpus;
      // every training vector whose cosine to ANY benchmark vector reaches
      // 0.3 is flagged with its best match — the paraphrase-leakage gate the
      // n-gram decontaminate (q44/q114) cannot catch. A REAL benchmark is
      // fixed-size by nature; the original corpus-fraction fixture made the
      // broadcast side scale WITH the corpus (N²/10 — caught by the r14 sf10
      // sweep), which no production decontamination pass does. Benchmark
      // side broadcast, corpus scanned once, filter BEFORE the argmax agg so
      // only hits shuffle.
      Similarity.semanticContamination(
          corpus = embVecs(s, d, col("vec_id") % 10 =!= 0),
          evalSet = embVecs(s, d).join(
            CorpusOps.sampleStratifiedBounded(
              Tables.embeddings(s, d).where(col("vec_id") % 10 === 0),
              col("vec_id"), lit(1), quota = 256, salt = "q129")
              .select(col("id")),
            "id"),
          threshold = 0.3)
        .orderBy(col("id"))
    }),

    "q130_vocab_coverage" -> ((s, d) =>
      // tokenizer-design report: share of corpus token mass covered by the
      // top-5/10/25 vocabulary entries (this corpus has 31 distinct tokens;
      // production ks are 10³..10⁵ against a BPE budget). Census is the one
      // corpus shuffle; the ranked cut is a TakeOrdered bounded heap; the
      // cumulative window is bounded by the cut, never corpus-sized.
      CorpusOps.vocabCoverage(
          Tables.documents(s, d)
            .select(explode(T.tokens(col("text"))).as("term")),
          ks = Seq(5, 10, 25))
        .orderBy(col("k"))),

    "q131_skipgram_cooccur" -> ((s, d) => {
      // word2vec/GloVe-style windowed co-occurrence census: every ordered
      // (center, context) pair with the context 1..2 positions to the right,
      // global top-20 by count. One narrow Generate per document (no join,
      // no explode×explode self-join), a map-side-combinable pair census,
      // and a TakeOrderedAndProject top-20 — per-partition bounded heaps,
      // never a global sort. Ties break on (w1, w2) for determinism.
      Tables.documents(s, d)
        .select(T.tokens(col("text")).as("w"))
        .where(size(col("w")) >= 2)
        .select(explode(expr(
          "flatten(transform(sequence(0, size(w) - 2), i -> " +
            "transform(sequence(i + 1, least(i + 2, size(w) - 1)), j -> " +
            "struct(element_at(w, i + 1) AS w1, element_at(w, j + 1) AS w2))))"))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    "q132_phrase_blocklist" -> ((s, d) => {
      // C4-style phrase-blocklist census: a bounded dictionary of exact
      // phrases counted per document via the codegen'd occurrence identity
      // (len(text) − len(replace(text, p))) div len(p) — no regex engine, no
      // tokenization drift, and the whole query is a NARROW per-row map
      // (zero joins/shuffles before the output sort): the dictionary lives
      // in the plan as literals, the blocklist analogue of q108's inlined
      // prototypes. keep = no phrase hit.
      val phrases = Seq("hash join", "row batch", "filter scan")
      val occs = phrases.map(p =>
        expr(s"(length(text) - length(replace(text, '$p', ''))) div ${p.length}")
          .as(s"n_${p.replace(' ', '_')}"))
      Tables.documents(s, d)
        .select(col("doc_id") +: occs: _*)
        .withColumn("n_hits",
          phrases.map(p => col(s"n_${p.replace(' ', '_')}")).reduce(_ + _))
        .withColumn("keep", col("n_hits") === 0)
        .orderBy(col("doc_id"))
    }),

    "q133_quantile_normalize" -> ((s, d) => {
      // per-source CDF (quantile) normalization of the q27/q96 fixed-point
      // quality score — the cross-source calibration step before mixture
      // sampling (a "good" score in a clean source and a boilerplate source
      // mean different things; the percentile is comparable). SCALE SHAPE:
      // never a percent_rank window over the corpus — the per-source VALUE
      // CENSUS (groupBy(source, quality_fp), map-side-combinable) is bounded
      // by the fixed-point resolution, the cumulative window runs over the
      // census rows only, and docs get their percentile back via one
      // (source, quality_fp) equi-join. cdf_ppm = 1e6·|docs ≤ v| div |docs|,
      // integer bits in any engine.
      val w = T.tokens(col("text"))
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(w).cast("long").as("n_tokens"),
          size(filter(w, x => x.isin("the", "a"))).cast("long").as("n_stop"))
        .selectExpr("doc_id", "source",
          "(1000000 * least(n_tokens, 50) * (n_tokens - n_stop)) div (50 * n_tokens) as quality_fp")
      CorpusOps.quantileNormalize(scored, "source", "quality_fp")
        .select(col("doc_id"), col("source"), col("quality_fp"), col("cdf_ppm"))
        .orderBy(col("doc_id"))
    }),

    "q138_winsorize" -> ((s, d) => {
      // per-source WINSORIZATION of event values — the robust-statistics
      // cleaning pass before aggregate features (a fat-finger 10⁶ purchase
      // must not dominate a mean): values clip to their source's empirical
      // [p05, p95]. Same census discipline as q133: cutoffs come from the
      // bounded per-(type, value) census CDF — the p05/p95 quantile is the
      // SMALLEST value whose cumulative count reaches the rank ⌈q·n⌉, one
      // map-side-combinable min(struct) per source over census rows — then
      // broadcast back and applied as a narrow clamp. Never a corpus
      // percentile window. Values in exact 2-decimal fixed point (the q88
      // convention).
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("vfp"))
      CorpusOps.winsorize(ev, "event_type", "vfp", loPct = 5, hiPct = 95)
        .select(col("event_id"), col("event_type"), col("vfp"),
          col("clipped_fp"), col("was_clipped"))
        .orderBy(col("event_id"))
    }),

    "q139_incremental_clusters" -> ((s, d) => {
      // INCREMENTAL cluster maintenance end to end — the daily-crawl cycle:
      // the "existing" corpus (even ids) already carries a verified
      // component labeling; the "increment" (odd ids) generates candidates
      // against the existing band table (new×old, the q97 shape) plus
      // itself (new×new), verifies at the exact Jaccard threshold, and
      // Dedup.mergeComponents folds the delta into the labeling WITHOUT
      // re-pairing or re-verifying the historical corpus — old clusters
      // enter as |members| star edges, so the merge costs |labeled| +
      // |delta|, not the history's Σ df². The oracle is the FULL-corpus
      // quadratic transitive closure: oracle-gated proof that the
      // incremental path equals the full recompute (label takeover and
      // cluster bridging included — even/odd interleaving makes new minima
      // routine, not edge cases).
      val docs = docShingles(s, d, 2).localCheckpoint() // multi-consumer rule
      val old = docs.where(col("id") % 2 === 0)
      val nw = docs.where(col("id") % 2 === 1)
      val oldPairs = Dedup.verifyJaccardGated(
        Dedup.minhashCandidates(old, 36, 12), docs, 0.8)
      val delta = Dedup.verifyJaccardGated(
        Dedup.incrementalCandidates(nw, old, 36, 12)
          .unionByName(Dedup.minhashCandidates(nw, 36, 12))
          .distinct(),
        docs, 0.8)
      Dedup.mergeComponents(Dedup.componentsStar(oldPairs),
          delta.select(col("a"), col("b")))
        .groupBy(col("component").as("keep_id"))
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("id"))),
            x => x.cast("string")), ",").as("members"))
        .orderBy(col("keep_id"))
    }),

    "q140_quality_tertiles" -> ((s, d) => {
      // CCNet-style per-LANGUAGE quality partitioning (Wenzek et al. 2020):
      // a doc's fixed-point quality score maps to its language-RELATIVE
      // percentile — a "good" type-token ratio means different things in
      // different languages — and the corpus splits into head/middle/tail
      // tertiles, the buckets a filtering or curriculum policy consumes.
      // Shapes: the q133 census-CDF machinery (never a corpus-wide rank
      // window: the per-(lang, score) census is bounded by the fixed-point
      // resolution), one equi-join back, then a |langs|·3-row rollup.
      // Integer TTR permille + integer cdf_ppm keep every bucket boundary
      // engine-exact.
      val w = T.tokens(col("text"))
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(w).cast("long").as("n_tokens"),
          size(array_distinct(w)).cast("long").as("n_distinct"))
        .selectExpr("doc_id", "lang", "n_tokens",
          "(1000 * n_distinct) div n_tokens as ttr_pm")
      CorpusOps.quantileNormalize(scored, "lang", "ttr_pm")
        .withColumn("bucket",
          when(col("cdf_ppm") <= 333333, "tail")
            .when(col("cdf_ppm") <= 666666, "middle")
            .otherwise("head"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("ttr_pm")).as("min_ttr_pm"),
          max(col("ttr_pm")).as("max_ttr_pm"))
        .orderBy(col("lang"), col("bucket"))
    }),

    "q141_dedup_savings" -> ((s, d) => {
      // dedup savings SWEEP — the policy question before committing to a
      // threshold ("what does 0.9 vs 0.7 buy?"): ONE exact pair table at
      // the loosest gate serves every tighter gate as a filter — verify
      // once, gate many. The base is allPairsJaccard (the df-cap-guarded
      // postings join, q31's machinery), NOT banded LSH: band collision
      // probability at loose thresholds is deliberately < 1, so a sweep
      // built on candidates would under-count exactly where the policy
      // comparison matters. Output: per threshold, surviving pair count
      // and distinct docs involved — 3 rows. The pair table materializes
      // once (localCheckpoint) and six bounded aggregates read it. The
      // sweep runs on the deterministic 1/3 sample (the q31 concession on
      // this uniformly-common vocabulary): a threshold-policy decision
      // needs the distribution's SHAPE, not the full pair census — at
      // production scale the exact quadratic-at-θ=0.5 table is a sampled
      // diagnostic by construction. The sample is LOUD: CorpusOps.loudSampled
      // rides the rate as an observed metric and WARNs it per execution.
      val docs = CorpusOps.loudSampled(
        docShingles(s, d, 2, col("doc_id") % 3 === 0), denom = 3)
      val pairs = Dedup.allPairsJaccard(docs, 0.5).localCheckpoint()
      def row(t: Double) = {
        val p = pairs.where(col("jac") >= t)
        p.agg(count(lit(1)).as("n_pairs")).crossJoin(
          p.select(explode(array(col("a"), col("b"))).as("x"))
            .agg(countDistinct(col("x")).as("n_docs")))
          .select(lit(t).as("theta"), col("n_pairs"), col("n_docs"))
      }
      row(0.5).unionByName(row(0.7)).unionByName(row(0.9))
        .orderBy(col("theta"))
    }),

    "q144_k_anonymity_release" -> ((s, d) => {
      // the REMEDIATION q128's audit gates — the actual release: rows whose
      // QI class fails k-anonymity or l-diversity are suppressed (cell
      // suppression), and the report shows what the gate cost per event
      // type. ONE census aggregate (the only corpus-size shuffle) + one
      // broadcast anti-join of the log against the failing-class table +
      // two bounded rollups; fixed-point permille suppression rate.
      val g = Tables.events(s, d).select(col("event_id"), col("event_type"),
        hour(col("ts")).as("hh"),
        floor(col("value") / 10).cast("long").as("vbucket"), col("user_id"))
      val released = CorpusOps.kAnonymitySuppress(g,
        Seq("event_type", "hh", "vbucket"), col("user_id"), k = 5, l = 3)
      g.groupBy(col("event_type")).agg(count(lit(1)).as("n_input"))
        .join(released.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rel")), Seq("event_type"), "left")
        .select(col("event_type"), col("n_input"),
          coalesce(col("n_rel"), lit(0L)).as("n_released"),
          (col("n_input") - coalesce(col("n_rel"), lit(0L))).as("n_suppressed"))
        .withColumn("suppressed_pm", expr("1000 * n_suppressed div n_input"))
        .orderBy(col("event_type"))
    }),

    "q145_postings_probe" -> ((s, d) => {
      // the persisted-postings daily cycle end to end, oracle-gated: the OLD
      // half of the (1/10-sampled, q126 convention) corpus builds the
      // bucketed tf-idf index ONCE (tokenize + tf/df + prune paid at write
      // time), then the NEW half probes it — snapshot-weighted new×old
      // cosine pairs, the corpus side exchange-free on the term join. The
      // oracle recomputes the same snapshot algebra relationally: df and the
      // prune denominator come from the OLD corpus only, new docs weight
      // against the INDEX df (terms outside the snapshot vocabulary drop).
      // The artifact persists in the session warehouse by design (build-once
      // serve-many is the point being measured — the bench time INCLUDES the
      // index build); reruns reclaim it through the staged swap, which also
      // means a plan-only consumer of this entry pays the build.
      val toks = Tables.documents(s, d).where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id"), explode(T.tokens(col("text"))).as("term"))
        .localCheckpoint()
      // split point as a scalar subquery over the checkpointed table (the
      // q97 pattern: in-plan, no join node, evaluated at execution) — the
      // only construction actions left are the documented artifact build +
      // the checkpoint
      toks.createOrReplaceTempView("q145_toks")
      val halfSq = "(select (max(id) + 1) div 2 from q145_toks)"
      Similarity.writeTfidfPostingsIndex(
        toks.where(expr(s"id < $halfSq")), "q145_idx", maxDfDenom = 2)
      Similarity.incrementalTfidfPairsFromIndex(
          toks.where(expr(s"id >= $halfSq")), "q145_idx", minCosPpm = 300000)
        .orderBy(col("a"), col("b"))
    }),

    "q143_corpus_diff" -> ((s, d) => {
      // corpus VERSION DIFF — the release-ops report between two dataset
      // snapshots ("what changed since v1?"): docs classified
      // added/removed/modified/unchanged by content digest, with doc and
      // token mass per class. v2 is derived deterministically from the
      // documents table (id % 11 == 0 dropped, id % 13 == 0 text-rewritten,
      // every 17th id shifted +100000 to appear as an add) so the oracle
      // rebuilds the identical pair of snapshots. ONE full outer equi-join
      // on doc id (both sides narrow: id, md5, token count) + a 4-row
      // conditional-sum rollup — no content ever crosses the shuffle, only
      // digests; at 100 TB this is two metadata scans and one join on the
      // id, the same cost class as q30.
      val v1 = Tables.documents(s, d).select(col("doc_id").as("id"),
        md5(col("text")).as("h1"),
        size(T.tokens(col("text"))).cast("long").as("t1"))
      val v2base = Tables.documents(s, d).where(col("doc_id") % 11 =!= 0)
      val v2 = v2base.select(
        when(col("doc_id") % 17 === 0, col("doc_id") + 100000L)
          .otherwise(col("doc_id")).as("id"),
        md5(when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text"))).as("h2"),
        (size(T.tokens(col("text"))) +
          when(col("doc_id") % 13 === 0, 1).otherwise(0)).cast("long").as("t2"))
      v1.join(v2, Seq("id"), "full_outer")
        .select(
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "modified")
            .otherwise("unchanged").as("status"),
          coalesce(col("t1"), lit(0L)).as("t1"),
          coalesce(col("t2"), lit(0L)).as("t2"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("t1")).as("tokens_v1"), sum(col("t2")).as("tokens_v2"),
          sum(col("t2") - col("t1")).as("token_delta"))
        .orderBy(col("status"))
    }),

    "q142_streaming_line_dedup" -> ((s, d) => {
      // the STREAMING line-dedup twin run in batch mode — the q46/q40
      // discipline: the exact code that serves the continuous ingest
      // (broadcast census mark + watermarked per-doc reassembly,
      // StreamingExtraction.streamingLineDedup) must reproduce the batch
      // rebuild's values, gated here against the same oracle shape as q124.
      // The census comes from CorpusOps.hotUnits — the persisted-artifact
      // half of the daily cycle; ts is a synthetic deterministic event time
      // (the watermark is a no-op in batch).
      val docs = Tables.documents(s, d).select(
        col("doc_id").as("id"), col("text"),
        to_timestamp(lit("2026-01-01 00:00:00")).plus(
          expr("make_interval(0, 0, 0, 0, 0, 0, doc_id)")).as("ts"))
      val census = CorpusOps.hotUnits(Tables.documents(s, d),
        col("doc_id"), col("text"), unitTokens = 5, minOcc = 2)
      graft.streaming.StreamingExtraction
        .streamingLineDedup(docs, census, unitTokens = 5)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    "q137_triangle_count" -> ((s, d) => {
      // triangle listing over the verified near-dup graph — the cluster-
      // density diagnostic (a dedup graph of star fragments vs true cliques
      // behaves very differently downstream). DEGREE-ORIENTED enumeration:
      // every edge points from its lower-(degree, id) endpoint to the
      // higher, each triangle is counted at exactly one vertex, and a
      // vertex's out-degree is bounded by O(√E) on ANY graph (arboricity),
      // so the wedge join does Σ outdeg² = O(E^1.5) work — the classic
      // scale-safe formulation; a hub vertex of degree 10⁶ contributes
      // wedges only toward HIGHER-degree vertices, never d² pairs. All
      // equi-joins; ties in the orientation order break by id.
      val docs = docShingles(s, d, 2).localCheckpoint() // multi-consumer rule
      val pairs = Dedup.verifyJaccardGated(
        Dedup.minhashCandidates(docs, 36, 12), docs, 0.8)
      graft.operators.Graph.triangles(
          pairs.select(col("a").as("u"), col("b").as("v")))
        .orderBy(col("a"), col("b"), col("c"))
    }),

    "q135_source_drift" -> ((s, d) => {
      // per-source distribution-drift monitor: the two-sample KS statistic
      // of each source's doc-length distribution against the corpus — the
      // "did this crawl slice change shape?" gate a pipeline runs per
      // ingest. SCALE SHAPE: both CDFs come from bounded VALUE CENSUSES
      // (doc length in tokens — resolution-bounded), evaluated on the
      // sources × distinct-values grid (bounded × bounded, never docs);
      // the per-source cumulative window runs over grid rows, the global
      // one over the value census (single-partition but census-bounded,
      // the q130 discipline); KS argmax is one map-side max(struct), ties
      // to the smallest value. All integer ppm arithmetic.
      val docs = Tables.documents(s, d)
        .select(col("source"), size(T.tokens(col("text"))).cast("long").as("v"))
      val sCensus = docs.groupBy(col("source"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val gCensus = docs.groupBy(col("v")).agg(count(lit(1)).as("gcnt"))
      val sTotals = sCensus.groupBy(col("source")).agg(sum(col("cnt")).as("n_s"))
      val gTotal = gCensus.agg(sum(col("gcnt")).as("n_c")) // 1 row
      val gW = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val gCdf = gCensus.withColumn("gcum", sum(col("gcnt")).over(gW))
      val grid = sCensus.select(col("source")).distinct()
        .crossJoin(gCdf.select(col("v"), col("gcum")))
      val sW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      grid
        .join(sCensus, Seq("source", "v"), "left")
        .withColumn("scum", sum(coalesce(col("cnt"), lit(0L))).over(sW))
        .join(broadcast(sTotals), "source")
        .crossJoin(broadcast(gTotal))
        .selectExpr("source", "v", "n_s",
          "abs((1000000 * scum) div n_s - (1000000 * gcum) div n_c) as d_ppm")
        .groupBy(col("source"))
        .agg(max(struct(col("d_ppm").as("d"), (-col("v")).as("nv"))).as("m"),
          min(col("n_s")).as("n_docs"))
        .select(col("source"), col("n_docs"), col("m.d").as("ks_ppm"),
          (-col("m.nv")).as("at_value"))
        .orderBy(col("source"))
    }),

    "q136_event_trigrams" -> ((s, d) => {
      // behavioral sequence mining: the most frequent per-user event-type
      // TRIGRAMS in chronological order — the pattern census behind funnel
      // discovery (q82 checks a KNOWN funnel; this surfaces candidates).
      // Shape: two lead() windows CHAINED over ONE (user_id, ts, event_id)
      // partitioning — one shuffle, no self-join (the q82 discipline; an
      // event_seq×event_seq×event_seq join would cube the log) — then a
      // map-side-combinable census and a TakeOrdered top-10.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("t1"))
        .withColumn("t2", lead(col("t1"), 1).over(w))
        .withColumn("t3", lead(col("t1"), 2).over(w))
        .where(col("t3").isNotNull)
        .groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))
        .limit(10)
    }),

    "q134_mmr_diversify" -> ((s, d) => {
      // Maximal Marginal Relevance re-rank of a bounded retrieval pool:
      // query = vector 0, pool = every 25th vector (the modulus stands in
      // for a top-N retrieval stage's bounded output), k = 5 at λ = 0.5 —
      // the RAG result-diversification pass. The pool collects driver-side
      // (the bounded driver-held-model idiom: MMR is sequential in k and
      // quadratic in the pool, which retrieval already bounded); the corpus
      // never joins itself. Selections are engine-exact: the shared
      // left-fold IEEE cosine, ties to the smallest id.
      val q0 = embVecs(s, d, col("vec_id") === 0)
        .select(col("vec")).head.getSeq[Double](0).toArray
      Similarity.mmrDiversify(
          embVecs(s, d, col("vec_id") % 25 === 0 && col("vec_id") =!= 0),
          query = q0, k = 5, lambda = 0.5)
        .orderBy(col("rank"))
    }),

    "q45_shard_packing" -> ((s, d) =>
      // token-budget shard assignment: 8 deterministic workers, docs packed
      // in id order into 512-token shards by running token count
      CorpusOps.packShards(Tables.documents(s, d), col("doc_id"),
        size(T.tokens(col("text"))).cast("long"), tokensPerShard = 512, nWorkers = 8)
        .select(col("doc_id"), col("worker"), col("shard"), col("n_tokens"))
        .orderBy(col("doc_id"))),

    "q48_top_terms" -> ((s, d) => {
      // TF-IDF-shaped top terms: score = tf/df (document frequency), which is
      // monotone in tf·idf for a fixed corpus and — unlike ln() — exact IEEE
      // division, bit-identical across engines. Top 5 terms per source.
      val tokens = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), explode(T.tokens(col("text"))).as("term"))
      val tf = tokens.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tokens.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy((col("tf").cast("double") / col("df").cast("double")).desc, col("term"))
      tf.join(df_, "term")
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("source"), col("rank"), col("term"), col("tf"), col("df"))
        .orderBy(col("source"), col("rank"))
    }),

    "q49_label_centroids" -> ((s, d) =>
      // per-label mean embedding (class centroids — mean pooling): posexplode
      // to (label, dim, component), one groupBy — the element-wise aggregate
      // shape for any vector statistic; exact double avg matches DuckDB
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(V.asDouble(col("embedding"))))
        .withColumnRenamed("pos", "dim")
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("col")), 6).as("mean_val"), count(lit(1)).as("n_vecs"))
        .orderBy(col("label"), col("dim"))),

    "q50_event_percentiles" -> ((s, d) =>
      // exact (interpolated) per-group percentiles — both engines implement
      // the same continuous-quantile formula, so values hash-match; the
      // 100 TB note: exact percentiles need a per-group sort (fine — groups
      // partition), approx_percentile/t-digest is the sketch escape
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy(col("event_type"))),

    "q51_fuzzy_pairs" -> ((s, d) => {
      // edit-distance fuzzy matching over the FULL corpus, scale-shaped:
      // candidate pairs come from the LSH machinery (word-2-gram shingles of
      // the prefix → MinHash(36) → 12 band bucket equi-joins), and ONLY
      // candidates pay the O(len²) levenshtein DP — no all-pairs inequality
      // join anywhere in the plan. The oracle below is the full quadratic
      // scan, so a hash match PROVES the candidate recall on this corpus
      // (the q32/q34 pattern). Distances are computed on 128-char prefixes —
      // the DP cost knob that made unbounded text the bench's worst line —
      // and the threshold (20 edits ≈ 16% of the prefix) is tight enough to
      // be a CONTENT match: on this corpus it admits exactly the planted
      // near-dup pairs, which sit at d ≤ 10 with the background beyond 30.
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), substring(col("text"), 1, 128).as("t"))
      val cands = Dedup.minhashCandidates(
        docs.select(col("id"), shingleExpr(s, col("t"), 2).as("shingles")),
        k = 36, bands = 12)
      // threshold form: the DP early-exits once distance must exceed 20
      // (O(threshold·len) per pair, not O(len²)) and returns -1 for misses;
      // hits carry the exact distance, so values match the oracle
      cands
        .join(docs.select(col("id").as("a"), col("t").as("ta")), "a")
        .join(docs.select(col("id").as("b"), col("t").as("tb")), "b")
        .select(col("a"), col("b"),
          levenshtein(col("ta"), col("tb"), 20).as("dist"))
        .where(col("dist") >= 0)
        .orderBy(col("a"), col("b"))
    }),

    "q52_asof_join" -> ((s, d) => {
      // AS-OF join (union + keyed-window, no inequality join): each click
      // event gets the latest at-or-before purchase value of the same user.
      // The right side pre-aggregates per (user, ts) so ties are impossible
      // — the determinism contract DuckDB's native ASOF JOIN shares.
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("value")).as("pvalue"))
      graft.operators.TemporalJoins
        .asofJoin(clicks, purchases, "user_id", "ts_us", "pvalue", "last_purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("last_purchase"), 4).as("last_purchase"))
        .orderBy(col("event_id"))
    }),

    "q53_range_join" -> ((s, d) => {
      // RANGE join via time buckets (equi-join on the bucket + exact range
      // predicate — never |events| x |intervals|): 90-minute intervals
      // anchored at every 199th event, all events falling inside each
      val ev = Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      val intervals = ev.where(col("event_id") % 199 === 0)
        .select(col("event_id").as("iv_id"), col("ts_us").as("start_us"),
          (col("ts_us") + 5400000000L).as("end_us"))
      graft.operators.TemporalJoins
        .rangeJoin(intervals, ev, bucketUs = 3600000000L)
        .groupBy(col("iv_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("iv_id"))
    }),

    "q69_asof_forward" -> ((s, d) => {
      // FORWARD as-of with a deadline: each click attributed to the next
      // purchase by the same user within 30 minutes (union + keyed window,
      // time-reversed q52 — still one shuffle, no inequality join). Oracle =
      // DuckDB's native forward ASOF JOIN with the tolerance as post-filter.
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("value")).as("pvalue"))
      graft.operators.TemporalJoins
        .asofJoinForward(clicks, purchases, "user_id", "ts_us", "pvalue",
          "next_purchase", toleranceUs = 1800000000L)
        .select(col("click_id"), col("user_id"), col("ts_us"),
          round(col("next_purchase"), 4).as("next_purchase"))
        .orderBy(col("click_id"))
    }),

    "q54_kmv_distinct" -> ((s, d) => {
      // deterministic KMV cardinality sketch: per-source distinct-token
      // estimate from the 16 smallest md5 hashes — the approximate value
      // itself hash-matches the oracle (same hashes, same minima, same IEEE
      // division), which no HLL can do
      val tokens = Tables.documents(s, d)
        .select(col("source"), explode(T.tokens(col("text"))).as("term"))
      val kmv = graft.operators.Sketches
        .kmvDistinct(tokens, col("source"), col("term"), k = 16)
        .withColumnRenamed("g", "source")
      val exact = tokens.groupBy(col("source"))
        .agg(countDistinct(col("term")).as("exact_distinct"))
      kmv.join(exact, "source")
        .select(col("source"), col("exact_distinct"), col("n_hashes"),
          round(col("estimate"), 4).as("estimate"))
        .orderBy(col("source"))
    }),

    "q56_clusters_star" -> ((s, d) => {
      // the q41 pipeline with the OTHER clustering algorithm: alternating
      // large-star/small-star contraction (O(log n) rounds at any diameter)
      // over the same verified near-dup pairs — same (survivor, members)
      // contract, same recursive-CTE oracle shape as q41, so the two
      // formulations are independently oracle-proven equivalent
      val docs = docShingles(s, d, 2).localCheckpoint() // multi-consumer rule
      val pairs = Dedup.verifyJaccardGated(Dedup.minhashCandidates(docs, 36, 12), docs, 0.8)
      Dedup.componentsStar(pairs)
        .groupBy(col("component").as("keep_id"))
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("id"))),
            x => x.cast("string")), ",").as("members"))
        .orderBy(col("keep_id"))
    }),

    "q59_pii_redact" -> ((s, d) => {
      // PII scrubbing: the corpus is synthetic word salad, so deterministic
      // PII (email, phone, IPv4 — derived from doc_id) is appended in-query,
      // then redacted with the fixed regex chain. Counts AND the md5 of the
      // scrubbed text are oracle-gated: Java regex and RE2 agree on the
      // restricted ASCII pattern subset, so the redaction is engine-portable.
      // Narrow map, zero shuffles before the ORDER BY — scan-speed at 100 TB.
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com tel +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".17"))
      Tables.documents(s, d).select(
        col("doc_id"),
        regexp_count(dirty, lit(T.EmailRe)).as("n_emails"),
        regexp_count(dirty, lit(T.PhoneRe)).as("n_phones"),
        regexp_count(dirty, lit(T.Ipv4Re)).as("n_ips"),
        md5(T.redactPii(dirty)).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    "q60_mixture_sample" -> ((s, d) =>
      // data-mixing draw: per-source target quotas (the weight map every
      // pre-training mixture config carries — here derived deterministically
      // from the source name so the oracle shares it: 20 or 30 docs), drawn
      // in md5-hash order through the bounded-heap sampler with k = max
      // quota, then rank-filtered to each stratum's own quota. Same plan
      // shape as q57 — the mixture is free on top of the sample.
      CorpusOps.sampleStratifiedBounded(Tables.documents(s, d),
        col("doc_id"), col("source"), quota = 30, salt = "s60")
        .where(col("sample_rank") <= (length(col("stratum")) % 3 + 1) * 10)
        .select(col("stratum").as("source"), col("sample_rank"),
          col("id").as("doc_id"))
        .orderBy(col("source"), col("sample_rank"))),

    "q58_countmin_heavy" -> ((s, d) => {
      // Count-Min heavy hitters: a 3×16 deterministic counter table over all
      // tokens, point-queried for the exact top-20 terms. The sketch
      // over-approximates (never under) by collision mass — and because the
      // hash rows are md5-seeded, the DuckDB oracle rebuilds the IDENTICAL
      // counters, so the APPROXIMATE estimates themselves hash-match (the
      // q54/q36 pattern: oracle-gated approximation, impossible with a
      // randomized sketch). The probe top-20 is TakeOrdered (per-partition
      // heaps), not a global sort.
      val tokens = Tables.documents(s, d)
        .select(explode(T.tokens(col("text"))).as("term"))
      val counters = graft.operators.Sketches.countMin(tokens, col("term"), d = 3, w = 16)
      val probes = tokens.groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(20)
      probes.join(
          graft.operators.Sketches.countMinEstimate(counters, probes, d = 3, w = 16),
          "term")
        .select(col("term"), col("exact_cnt"), col("cm_estimate"))
        .orderBy(col("exact_cnt").desc, col("term"))
    }),

    "q63_inverted_index" -> ((s, d) => {
      // inverted-index build: term -> (df, total_tf, top-3 postings by tf).
      // One (term, doc) count aggregation, then ONE term aggregation where
      // the bounded-heap topk_by computes the postings head map-side — the
      // exchange carries tasks × terms × 3 entries, never a hot term's full
      // postings list (the window row_number twin lands ALL of a term's
      // postings on one reducer; that is the oracle, not the plan).
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
          call_function("topk_by", col("tf").cast("double"), col("doc_id"), lit(3))
            .as("top"))
        .select(col("term"), col("df"), col("total_tf"),
          array_join(transform(col("top"), e =>
            concat(e.getField("id").cast("string"), lit(":"),
              e.getField("score").cast("long").cast("string"))), ",").as("postings"))
        .orderBy(col("term"))
    }),

    "q64_quantize_embed" -> ((s, d) => {
      // int8 scalar quantization of the embedding column (the memory-layout
      // step before ANN serving: 4x smaller vectors, dot products in integer
      // registers): per-vector max-abs scale, q = floor(v/scale + 0.5),
      // reconstruction MSE. Pure scalar array folds in FIXED left-fold order,
      // so the oracle reproduces every double bit-for-bit — zero shuffles,
      // scan speed at 100 TB. `scale` and `qv` are MATERIALIZED columns, not
      // inlined expressions: a lambda body referencing the scale expression
      // would re-run the array_max per element (O(dim^2) per row).
      // NB: the internal column is `scl`, NOT `scale` — Spark 4's lateral
      // column alias resolution would otherwise bind the lambda's reference
      // to the ROUNDED `scale` alias in the same select list, silently
      // changing the reconstruction error
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
        .withColumn("scl",
          array_max(transform(col("v"), x => abs(x))) / lit(127.0))
        .withColumn("qv", transform(col("v"), x =>
          when(col("scl") === 0, lit(0L))
            .otherwise(floor(x / col("scl") + lit(0.5)))))
      base.select(
        col("vec_id"),
        round(col("scl"), 6).as("scale"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + abs(x)).as("l1_q"),
        round(aggregate(
          zip_with(col("v"), col("qv"), (a, b) =>
            (a - b.cast("double") * col("scl")) * (a - b.cast("double") * col("scl"))),
          lit(0.0), (acc, x) => acc + x) / size(col("v")) * lit(1e6), 4)
          .as("mse_e6"))
        .orderBy(col("vec_id"))
    }),

    "q62_repetition" -> ((s, d) => {
      // intra-document repetition signals (the Gopher-style boilerplate
      // filters): duplicate-word fraction, top-word fraction, duplicate
      // word-2-gram fraction. Everything is SCALAR per row — array folds
      // inside the scan, zero shuffles before the ORDER BY — where the naive
      // formulation shuffles every (doc, word) pair through a wordcount;
      // at 100 TB this runs at scan speed like q26-q29. The split-words
      // array is MATERIALIZED once: lambdas referencing the split expression
      // would re-tokenize the text per array element.
      val base = Tables.documents(s, d)
        .select(col("doc_id"), T.tokens(col("text")).as("ws"))
        .withColumn("dws", array_distinct(col("ws")))
      val w = col("ws")
      val nW = size(w)
      val topCnt = array_max(transform(col("dws"),
        x => size(filter(w, y => y === x))))
      // NON-distinct 2-grams (shingles() dedups; repetition needs the dups)
      val grams = when(nW >= 2, transform(sequence(lit(0), nW - 2),
        i => array_join(slice(w, i + 1, lit(2)), " ")))
        .otherwise(array().cast("array<string>"))
      base
        .withColumn("grams", grams)
        .select(
          col("doc_id"),
          nW.as("n_words"),
          round(lit(1.0) - size(col("dws")).cast("double") / nW.cast("double"), 4)
            .as("dup_word_frac"),
          round(topCnt.cast("double") / nW.cast("double"), 4).as("top_word_frac"),
          when(size(col("grams")) <= 0, lit(0.0))
            .otherwise(round(lit(1.0) -
              size(array_distinct(col("grams"))).cast("double") /
                size(col("grams")).cast("double"), 4))
            .as("dup_gram_frac"))
        .orderBy(col("doc_id"))
    }),

    "q74_json_extract" -> ((s, d) => {
      // semi-structured ingestion, the JSON sibling of the XML engine: JSON
      // records built with a FIXED serialization (both engines parse the
      // identical string), schema-on-read via from_json into a typed struct
      // + array, fields extracted with struct getters. Narrow and codegen'd
      // — scan speed; at 100 TB this is the standard JSONL ingest shape.
      val js = concat(lit("{\"id\":"), col("doc_id"),
        lit(",\"lang\":\""), col("lang"),
        lit("\",\"n\":"), col("n_chars"),
        lit(",\"tags\":[\""), col("source"),
        lit("\",\"t"), (col("doc_id") % 7).cast("string"), lit("\"]}"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, lang STRING, n BIGINT, tags ARRAY<STRING>")
      Tables.documents(s, d)
        .select(from_json(js, schema).as("j"))
        .select(col("j.id").as("doc_id"), col("j.lang").as("j_lang"),
          col("j.n").as("j_n"), size(col("j.tags")).as("n_tags"),
          element_at(col("j.tags"), 2).as("tag2"))
        .orderBy(col("doc_id"))
    }),

    "q73_cluster_survivors" -> ((s, d) => {
      // quality-aware dedup survivor selection: q41's verified near-dup
      // clusters, but the keeper is the member with the HIGHEST q27 quality
      // score (ties → smallest doc_id) — the production refinement over
      // keep-min-id, via one max(struct(quality, -id)) per cluster (map-side
      // combined argmax, no window over members).
      // RECALL PRECONDITION (like q81's ASCII note): the oracle computes the
      // exact all-pairs Jaccard>=0.8 closure while this side feeds components
      // from LSH candidates (36 hashes, 12 bands); the gate holds because the
      // banding recalls every true pair on the shipped corpus (asserted by
      // the q32-vs-quadratic-oracle gate, which shares the candidate path) —
      // a testdata refresh that defeats banding would flip this red, not
      // silently degrade.
      val docs = docShingles(s, d, 2).localCheckpoint() // multi-consumer rule
      val pairs = Dedup.verifyJaccardGated(Dedup.minhashCandidates(docs, 36, 12), docs, 0.8)
      val w = T.tokens(col("text"))
      val nTok = size(w).cast("double")
      val stopRatio = size(filter(w, x => x.isin("the", "a"))).cast("double") / nTok
      val qual = Tables.documents(s, d).select(col("doc_id").as("id"),
        (least(lit(1.0), nTok / 50.0) * (lit(1.0) - stopRatio)).as("quality"))
      Dedup.components(pairs).join(qual, "id")
        .groupBy(col("component"))
        .agg(max(struct(col("quality"), (-col("id")).as("negid"))).as("b"),
          count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("id"))),
            x => x.cast("string")), ",").as("members"))
        .select((-col("b.negid")).as("keep_id"),
          round(col("b.quality"), 4).as("best_quality"),
          col("n_members"), col("members"))
        .orderBy(col("keep_id"))
    }),

    "q72_span_dedup" -> ((s, d) => {
      // C4-style SPAN-level exact dedup: documents split into 10-word spans,
      // every span occurrence after the first (global first = smallest
      // (doc_id, span_idx)) is dropped, and surviving spans reassemble into
      // the cleaned document in position order. Dedup below document
      // granularity is what catches boilerplate exact dedup (q30) can't.
      // Plan: explode → ONE span aggregation (min(struct) keeper, map-side
      // combined) → equi-join back → per-doc rebuild; the span exchange
      // carries one row per DISTINCT span, never the corpus².
      val spans = Tables.documents(s, d)
        .select(col("doc_id"), T.tokens(col("text")).as("ws"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (size(ws) - 1) div 10), " +
            "i -> array_join(slice(ws, i * 10 + 1, 10), ' '))")))
        .withColumnRenamed("pos", "span_idx")
        .withColumnRenamed("col", "txt")
      val keepers = spans.groupBy(col("txt"))
        .agg(min(struct(col("doc_id"), col("span_idx"))).as("k"))
        .select(col("txt"), col("k.doc_id").as("kdoc"), col("k.span_idx").as("kidx"))
      spans.join(keepers, "txt")
        .withColumn("keep", col("doc_id") === col("kdoc") && col("span_idx") === col("kidx"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          md5(concat_ws(" ", transform(
            sort_array(collect_list(when(col("keep"),
              struct(col("span_idx"), col("txt"))))),
            e => e.getField("txt")))).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    "q71_pagerank" -> ((s, d) => {
      // fixed-point PageRank over the supplier↔customer bipartite graph
      // (who-supplies-whom via lineitem ⋈ orders, both edge directions for
      // symmetric flow). Scaled-integer arithmetic makes 4 iterations of
      // rank propagation bit-identical in any engine — the oracle unrolls
      // the SAME iterations in SQL — where float PageRank would be
      // partition-order-dependent. Top-20 is TakeOrdered, not a global sort.
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("s"), (col("o_custkey") * 2 + 1).as("c"))
        .distinct()
      val edges = pairs.select(col("s").as("src"), col("c").as("dst"))
        .unionAll(pairs.select(col("c").as("src"), col("s").as("dst")))
      graft.operators.Graph.pageRankInt(edges, iterations = 4)
        .select(col("id"),
          when(col("id") % 2 === 0, "supplier").otherwise("customer").as("node_type"),
          col("pr"))
        .orderBy(col("pr").desc, col("id")).limit(20)
    }),

    "q70_zorder_layout" -> ((s, d) => {
      // Z-order layout key over (user bucket, hour-of-day): rows sharing a
      // z-range are close in BOTH dimensions, so range-partitioning by z and
      // writing with min/max stats lets predicates on EITHER column prune
      // files. The query proves the locality property the layout relies on:
      // per z-range, the covered (x, y) rectangle is tight (max-min spans
      // stay small), and the key arithmetic hash-matches the oracle.
      val ev = Tables.events(s, d).select(
        (col("user_id") % 256).as("x"),
        hour(col("ts")).cast("long").as("y"))
      ev.withColumn("z", graft.functions.LayoutFunctions.zorder(col("x"), col("y"), bits = 8))
        .groupBy((col("z") / 256).cast("long").as("z_range"))
        .agg(count(lit(1)).as("n_events"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("z_range"))
    }),

    "q68_histogram_quantiles" -> ((s, d) => {
      // mergeable quantile sketch: per-event-type p50/p90/p99 from a 128-bin
      // fixed-range histogram (one aggregation, ≤ groups×bins rows at any
      // scale; histograms merge bin-wise) — the deterministic t-digest
      // stand-in q50's notes promise. Exact integer counts + one double
      // interpolation ⇒ the approximate estimates themselves hash-match.
      val hist = graft.operators.Sketches.histogram(Tables.events(s, d),
        col("event_type"), col("value"), lo = 0.0, hi = 500.0, bins = 128)
      graft.operators.Sketches
        .histogramQuantiles(hist, Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 500.0, bins = 128)
        .select(col("g").as("event_type"), col("q"), col("n"),
          round(col("estimate"), 4).as("estimate"))
        .orderBy(col("event_type"), col("q"))
    }),

    "q81_cdc_chunks" -> ((s, d) => {
      // content-defined chunking (the FastCDC/backup-dedup shape): an 8-byte
      // polynomial rolling hash over the text, chunk boundaries where
      // h % 32 == 0 — boundaries move WITH the content, so an insertion
      // shifts one chunk instead of re-aligning every fixed-width block.
      // Chunks then dedup across the corpus by digest. Scalar per-row hash
      // work (hashes/bounds/chunks all MATERIALIZED columns — the q62
      // lesson), one chunk-digest aggregation, one join back.
      val L = length(col("text"))
      // boundary detection runs through the native one-pass cdc_bounds
      // kernel — the value-identical HOF twin (filter + per-position Horner
      // fold) evaluates interpreted at ~0.25 s PER ROW and exists as the
      // oracle SQL only; the fallback keeps the query runnable without the
      // extension installed
      def rollingHash(i: Column): Column =
        aggregate(sequence(lit(0), lit(7)), lit(0L), (acc, k) =>
          pmod(acc * 31 + ascii(col("text").substr(i - 7 + k, lit(1))),
            lit(1048576L)))
      val boundsCol =
        if (s.catalog.functionExists("cdc_bounds"))
          call_function("cdc_bounds", col("text"))
        else filter(
          when(L >= 8, sequence(lit(8L), L.cast("long")))
            .otherwise(array().cast("array<bigint>")),
          i => rollingHash(i.cast("int")) % 32 === 0)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("bounds", boundsCol)
        .withColumn("bs", array_sort(array_distinct(concat(
          array(lit(0L)), col("bounds"), array(L.cast("long"))))))
        .withColumn("chunks", transform(sequence(lit(0), size(col("bs")) - 2),
          j => col("text").substr(
            element_at(col("bs"), j + 1).cast("int") + 1,
            (element_at(col("bs"), j + 2) - element_at(col("bs"), j + 1)).cast("int"))))
      // checkpoint once: the digest table feeds BOTH the sharing aggregate
      // and the join back — without it the whole scalar chunk pipeline runs
      // twice (the componentsStar input-checkpoint idiom)
      val chunkDocs = base
        .select(col("doc_id"), explode(col("chunks")).as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("cmd5"))
        .localCheckpoint()
      val sharing = chunkDocs.groupBy(col("cmd5"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      chunkDocs.join(sharing, "cmd5")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
        .orderBy(col("doc_id"))
    }),

    "q80_scd2_intervals" -> ((s, d) =>
      // slowly-changing-dimension (type 2) build from a change log: each
      // user's purchase events become validity intervals [valid_from,
      // valid_to) for the then-current value, closed by the next change
      // (lead over the user's time-ordered events; open intervals carry
      // null). One shuffle on the dimension key — the standard warehouse
      // history-table build, here over the events stream.
      scd2Intervals(s, d)
        // valid_to NULLS LAST as tiebreaker: (user_id, valid_from, value)
        // alone is not total when a user logs equal-value purchases in the
        // same microsecond; remaining ties are fully identical rows
        .orderBy(col("user_id"), col("valid_from"),
          col("valid_to").asc_nulls_last, col("value"))),

    "q99_changelog_compact" -> ((s, d) => {
      // CDC latest-wins compaction — the lakehouse MERGE/upsert apply: a
      // change log collapses to its current snapshot. Per key the row with
      // the greatest (ts, event_id) wins; a tombstone there deletes the
      // key entirely. ONE map-side-combinable max(struct) aggregation —
      // never a window over the full log, so a hot key's million-row
      // history folds to one struct inside each task before the exchange
      // (the q73 argmax discipline applied to upserts). Synthetic feed:
      // purchases upsert their value, clicks play the tombstone op.
      val log = Tables.events(s, d)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), (col("event_type") === "click").as("is_del"),
          col("value"))
      log.groupBy(col("user_id"))
        .agg(max(struct(col("ts_us"), col("event_id"),
          col("is_del"), col("value"))).as("w"))
        .where(!col("w.is_del"))
        .select(col("user_id"), round(col("w.value"), 4).as("value"),
          col("w.ts_us").as("updated_us"))
        .orderBy(col("user_id"))
    }),

    "q91_pit_feature_join" -> ((s, d) => {
      // point-in-time feature join (the feature-store correctness op): each
      // click is enriched with the purchase value that was VALID at the
      // click's timestamp — never a future leak — by joining the q80 SCD-2
      // intervals on user_id with the containment range as join predicates
      // (a left join keeps pre-first-purchase clicks with a null feature).
      // Intervals are disjoint per user by construction, so each click
      // matches at most once — deterministic without tie-breaks. Equi-key
      // user_id carries the shuffle; the range is a post-locate filter.
      val clicks = Tables.events(s, d)
        .where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val iv = scd2Intervals(s, d)
        .select(col("user_id"), col("value"), col("valid_from"), col("valid_to"))
      clicks.join(iv,
          clicks("user_id") === iv("user_id") &&
            col("us") >= col("valid_from") &&
            (col("valid_to").isNull || col("us") < col("valid_to")),
          "left")
        .select(col("event_id"), clicks("user_id").as("user_id"),
          col("us"), col("value").as("pit_value"))
        .orderBy(col("event_id"))
    }),

    "q79_kmv_intersect" -> ((s, d) => {
      // KMV SET ALGEBRA from stored sketches: estimate |A ∩ B| for two doc
      // populations (doc_id%2==0 vs doc_id%3==0, items = content digests)
      // using ONLY their bottom-64 sketches — union the sketches, re-take
      // the minima, and scale the union estimate by the fraction of kept
      // hashes present in BOTH sketches (any union-bottom-k hash that is in
      // A is provably in A's sketch, so sketch membership is exact). Every
      // step is deterministic, so the approximate intersection itself is
      // oracle-gated.
      val k = 64
      val items = Tables.documents(s, d)
        .select(col("doc_id"), T.hash60(md5(col("text"))).as("h"))
      def sketch(pred: Column) = items.where(pred)
        .agg(call_function("bottomk_distinct", col("h"), lit(k)).as("bk"))
      val joined = sketch(col("doc_id") % 2 === 0).withColumnRenamed("bk", "ka")
        .crossJoin(sketch(col("doc_id") % 3 === 0).withColumnRenamed("bk", "kb"))
        .select(col("ka"), col("kb"),
          // union the two sketches and re-take the k minima
          slice(array_sort(array_union(col("ka"), col("kb"))), 1, k).as("ku"))
      val nKu = size(col("ku"))
      val estU = when(nKu < k, nKu.cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
          element_at(col("ku"), nKu).cast("double"))
      val rho = size(array_intersect(array_intersect(col("ku"), col("ka")), col("kb")))
      val exact = Tables.documents(s, d)
        .where(col("doc_id") % 6 === 0)
        .agg(countDistinct(md5(col("text"))).as("exact_intersection"))
      joined.crossJoin(exact)
        .select(nKu.cast("long").as("n_union_hashes"),
          rho.cast("long").as("rho_count"),
          round(rho.cast("double") / nKu.cast("double") * estU, 4)
            .as("est_intersection"),
          col("exact_intersection"))
    }),

    "q77_countmin_merge" -> ((s, d) => {
      // Count-Min merge law, oracle-gated: per-source counter tables (the
      // independently-built summaries a pipeline stores) merge by CELL-WISE
      // ADDITION into the global table, and the merged table's point
      // estimates for the top terms must hash-match an oracle that builds
      // the global table from scratch — counters are storable.
      val tokens = Tables.documents(s, d)
        .select(col("source"), explode(T.tokens(col("text"))).as("term"))
      val perSource = graft.operators.Sketches
        .countMinBy(tokens, col("source"), col("term"), d = 3, w = 16)
      val merged = perSource.groupBy(col("r"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
      val probes = tokens.groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(10)
      probes.join(
          graft.operators.Sketches.countMinEstimate(merged, probes, d = 3, w = 16),
          "term")
        .select(col("term"), col("exact_cnt"), col("cm_estimate"))
        .orderBy(col("exact_cnt").desc, col("term"))
    }),

    "q78_kmv_merge" -> ((s, d) => {
      // KMV merge law, oracle-gated: per-source bottom-16 hash SETS (the
      // stored sketches) union and re-take the 16 minima — exactly the
      // native aggregate's partial merge, here spelled explicitly as
      // explode + re-aggregate over the per-source sets — while the oracle
      // computes the global bottom-16 from scratch. The merged approximate
      // estimate hash-matches: bottom-k sets are storable.
      val tokens = Tables.documents(s, d)
        .select(col("source"), explode(T.tokens(col("text"))).as("term"))
      val perSrcSets = tokens
        .select(col("source"), T.hash60(col("term")).as("h"))
        .groupBy(col("source"))
        .agg(call_function("bottomk_distinct", col("h"), lit(16)).as("bk"))
      val mergedTop = perSrcSets
        .select(explode(col("bk")).as("h"))
        .groupBy()
        .agg(call_function("bottomk_distinct", col("h"), lit(16)).as("bk"))
        .select(size(col("bk")).cast("long").as("n_hashes"),
          element_at(col("bk"), size(col("bk"))).as("kth_min"))
      val exact = tokens.agg(countDistinct(col("term")).as("exact_distinct"))
      mergedTop.crossJoin(exact)
        .select(col("n_hashes"), col("kth_min"),
          round(when(col("n_hashes") < 16, col("n_hashes").cast("double"))
            .otherwise(lit(15.0) * lit(math.pow(2, 60)) / col("kth_min").cast("double")), 4)
            .as("estimate"),
          col("exact_distinct"))
    }),

    "q76_hll_merge" -> ((s, d) => {
      // the sketch MERGE property as an oracle-gated query: per-event-type
      // register vectors (the summaries a 100 TB pipeline stores per
      // partition/day) merge by per-bucket max into the GLOBAL distinct-user
      // estimate — the raw data is never rescanned. The oracle computes the
      // global registers FROM SCRATCH, so the hash match proves
      // merge(per-part sketches) == sketch(whole), the property that makes
      // sketches storable.
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id").cast("string").as("item"))
      val perType = graft.operators.Sketches
        .hllRegisters(ev, col("event_type"), col("item"), p = 5)
      val merged = perType.groupBy(col("bucket"))
        .agg(max(col("r")).as("r"))
        .withColumn("g", lit("all"))
      val est = graft.operators.Sketches.hllEstimate(merged, p = 5)
      val exact = ev.agg(countDistinct(col("item")).as("exact_distinct"))
      est.crossJoin(exact)
        .select(col("n_buckets"), round(col("estimate"), 4).as("estimate"),
          col("exact_distinct"))
    }),

    "q61_hll_distinct" -> ((s, d) => {
      // deterministic HyperLogLog: per-event-type distinct-user estimate from
      // 32 md5-derived registers. The harmonic mean runs in scaled integers
      // (exact, order-free), so the APPROXIMATE estimate itself hash-matches
      // the oracle — the q54/q58 oracle-gated-approximation pattern, now for
      // the third sketch family (bottom-k, counter table, register vector).
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id").cast("string").as("item"))
      val hll = graft.operators.Sketches
        .hllDistinct(ev, col("event_type"), col("item"), p = 5)
        .withColumnRenamed("g", "event_type")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("item")).as("exact_distinct"))
      hll.join(exact, "event_type")
        .select(col("event_type"), col("exact_distinct"), col("n_buckets"),
          round(col("estimate"), 4).as("estimate"))
        .orderBy(col("event_type"))
    }),

    "q55_skew_salted_join" -> ((s, d) => {
      // explicit skew mitigation, oracle-gated: events collapse onto 10 hot
      // join keys (user_id % 10, ~N/10 rows each — the single-reducer shape
      // AQE cannot split, because a hash partition holds the WHOLE key), the
      // build side is a 10-row customer dim, and the salted join spreads each
      // hot key over 8 reducers. The oracle is the PLAIN join — the salted
      // rewrite is row-identical by contract (also pinned in SkewSpec).
      val probe = Tables.events(s, d)
        .select(col("event_id"), (col("user_id") % 10).as("uk"), col("value"))
      val build = Tables.customer(s, d).where(col("c_custkey") <= 10)
        .select((col("c_custkey") % 10).as("uk"), col("c_name"))
      Skew.saltedJoin(probe, build, "uk", col("event_id"), factor = 8)
        .groupBy(col("c_name"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("c_name"))
    }),

    "q46_stateful_totals" -> ((s, d) =>
      // mapGroupsWithState custom-state aggregation run in batch mode (each
      // key's rows arrive as one group, state starts empty) — the oracle is
      // the plain GROUP BY it must equal
      graft.streaming.StreamingExtraction
        .runningUserTotals(Tables.events(s, d))
        .select(col("user_id"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("user_id"))),

    // ---------------------------------------------------------------- multimodal
    "q37_multimodal_features" -> ((s, d) =>
      // binary-payload plumbing: synthesize media records, batched stub decode,
      // typed features — the mapPartitions pipeline is the oracle-gated part
      graft.multimodal.Multimodal.featureQuery(s, d)),

    "q47_media_decode" -> ((s, d) =>
      // REAL decode: payloads are byte-for-byte PPM(P6) images / WAV PCM16
      // audio built by Codecs; the query decodes them back (actual header
      // parse + pixel/sample extraction) into integer features the oracle
      // recomputes from the source text bytes
      graft.multimodal.Multimodal.decodeQuery(s, d)),

    "q66_stream_interval_join" -> ((s, d) =>
      // the stream-stream interval join run in batch mode (same code path as
      // the watermarked streaming twin, StreamingSpec pins stream⊆batch):
      // per-click purchase attribution within the next hour, aggregated
      graft.streaming.StreamingExtraction.clickPurchaseJoin(Tables.events(s, d))
        .groupBy(col("click_id"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("pvalue")), 4).as("sum_pvalue"))
        .orderBy(col("click_id"))),

    "q65_frame_sample" -> ((s, d) =>
      // REAL video frame sampling: payloads are concatenated binary PPM
      // frames (the ffmpeg image2pipe raw stream); the query parses the
      // container frame by frame, keeps every 2nd frame, and reduces each to
      // integer features the oracle recomputes from the source text bytes —
      // the q47 pattern extended to the multi-frame container, closing the
      // last stubbed multimodal op that a pure-JVM codec can close
      graft.multimodal.Multimodal.frameSampleQuery(s, d)),

    // ---------------------------------------------------------------- streaming op (batch mode)
    "q75_hopping_windows" -> ((s, d) => {
      // hopping (sliding) windows: 1-hour windows every 30 minutes — each
      // event lands in exactly two overlapping windows, the smoothing shape
      // tumbling q38 can't express; same streaming code path, batch-run for
      // the oracle (which materializes each event's two window starts)
      graft.streaming.StreamingExtraction.hoppingEventStats(Tables.events(s, d))
        .select(unix_micros(col("window_start")).as("win_us"),
          col("event_type"), col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("win_us"), col("event_type"))
    }),

    "q38_windowed_events" -> ((s, d) => {
      // the Structured Streaming tumbling-window aggregation run in batch mode
      // (same code path as StreamingExtraction's stream); window start exported
      // as epoch micros so the oracle compare stays engine-neutral
      graft.streaming.StreamingExtraction.windowedEventStats(Tables.events(s, d))
        .select(unix_micros(col("window_start")).as("win_us"),
          col("event_type"), col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("win_us"), col("event_type"))
    }),

    // ---------------------------------------------------------------- product analytics
    "q82_funnel_conversion" -> ((s, d) => {
      // sequential conversion funnel view→click→purchase, each stage anchored
      // at the user's FIRST qualifying event and bounded by a 1-hour step
      // window. ONE shuffle: the three stage minima are chained unordered
      // windows over the SAME user_id partitioning (each references the
      // previous stage's column, so no per-stage join/re-shuffle), then the
      // per-user dedup aggregate reuses that partitioning too.
      val hourUs = 3600000000L
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      ev.withColumn("v_us",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("c_us",
          min(when(col("event_type") === "click" &&
            col("us") >= col("v_us") && col("us") <= col("v_us") + hourUs,
            col("us"))).over(w))
        .withColumn("p_us",
          min(when(col("event_type") === "purchase" &&
            col("us") >= col("c_us") && col("us") <= col("c_us") + hourUs,
            col("us"))).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("v_us")).as("v_us"), max(col("c_us")).as("c_us"),
          max(col("p_us")).as("p_us"))
        .agg(count(col("v_us")).as("n_view"),
          count(col("c_us")).as("n_click"),
          count(col("p_us")).as("n_purchase"))
    }),

    "q83_cohort_retention" -> ((s, d) => {
      // weekly cohort retention matrix: cohort = week of the user's first
      // event, k = weeks since cohort start, cell = distinct active users.
      // Day/week indexes are exact integer floor divisions of epoch micros.
      // Two keyed shuffles (per-user min, then the distinct+count).
      val ev = Tables.events(s, d)
        .selectExpr("user_id", "unix_micros(ts) div 86400000000 as day")
      val c0 = ev.groupBy(col("user_id")).agg(min(col("day")).as("day0"))
      ev.join(c0, "user_id")
        .selectExpr("user_id", "day0 div 7 as cohort_week", "(day - day0) div 7 as k")
        .distinct()
        .groupBy(col("cohort_week"), col("k")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("k"))
    }),

    "q88_rolling_anomaly" -> ((s, d) => {
      // rolling z-score anomaly detection in EXACT integer arithmetic: value
      // fixed-pointed to 2 decimals, the trailing-100-row window carries
      // (n, Σv, Σv²), and |z| > 3 is the integer inequality
      // (n·v − S)²·(n−1) > 9·n·(n·SS − S²) — no stddev doubles to drift
      // between engines (bounds: v_fp ≤ 6e4 keeps every product < 2^63).
      // The window itself is the CHUNKED exact rewrite (Rolling
      // .trailingStats — VERDICT r16 #6): a plain per-type window caps
      // parallelism at the type cardinality (5 here — five single-task
      // 2M-row sorts at sf10, 64.6 s, each decade growing the sort and
      // never the task count), so each type's timeline splits into 32 time
      // buckets with a 100-row carry block, row-level identical by
      // RollingSpec and the DuckDB oracle (which still states the plain
      // window semantics).
      Rolling.trailingStats(
          Tables.events(s, d)
            .selectExpr("event_type", "event_id", "unix_micros(ts) as us",
              "cast(round(value * 100) as long) as v_fp"),
          "event_type", "us", "event_id", "v_fp", frame = 100)
        .select(col("event_type"), col("v_fp"), col("n"), col("sv"), col("svv"))
        .where(col("n") >= 30)
        .selectExpr("event_type",
          "case when (n*v_fp - sv)*(n*v_fp - sv)*(n - 1) > 9*n*(n*svv - sv*sv) " +
            "then 1L else 0L end as hit")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_scored"), sum(col("hit")).as("n_anomalies"))
        .orderBy(col("event_type"))
    }),

    // ---------------------------------------------------------------- text / IR scoring
    "q84_bigram_lm_score" -> ((s, d) => {
      // add-one-smoothed bigram LM trained ON the corpus, scoring every doc
      // by its average conditional bigram probability — the quality-filter
      // LM-scoring op, in EXACT fixed point: p_fp = (1e6·(c12+1)) div (c1+V),
      // integer-summed and integer-averaged (no ln(), no float sums).
      // Shapes: unigram/bigram count tables shuffle on their keys (the
      // LM-training shape), the word-vocab model broadcasts (≈1e6 rows at
      // web scale), the occurrence join is keyed on the bigram.
      val bg = docBigrams(s, d)
      val uni = Tables.documents(s, d)
        .select(explode(T.tokens(col("text"))).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("vv")) // 1-row model cardinality
      val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      bg.join(c12, Seq("w1", "w2")).join(broadcast(uni), "w1")
        .crossJoin(broadcast(vocab))
        .selectExpr("doc_id", "(1000000 * (c12 + 1)) div (c1 + vv) as p_fp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p_fp")).as("sum_p"))
        .selectExpr("doc_id", "n_bigrams", "sum_p div n_bigrams as avg_p_fp")
        .orderBy(col("doc_id"))
    }),

    "q85_bm25_search" -> ((s, d) =>
      // classic lexical retrieval: fixed-point BM25 (see bm25Fixed) top-10
      // for a fixed 3-term query; deterministic total order (score, doc_id)
      bm25Fixed(s, d, searchTerms)
        .orderBy(col("score_fp").desc, col("doc_id")).limit(10)),

    "q86_ngram_novelty" -> ((s, d) => {
      // bigram novelty scoring: the fraction of a doc's DISTINCT bigrams
      // whose FIRST corpus occurrence (min doc_id) is this doc — the
      // novelty/coverage ordering used to pick crawl snapshots for training.
      // Exact integers; one distinct, one groupBy(bigram), one keyed join.
      val bgd = docBigrams(s, d).select(col("doc_id"), col("w1"), col("w2")).distinct()
      val first = bgd.groupBy(col("w1"), col("w2")).agg(min(col("doc_id")).as("first_doc"))
      bgd.join(first, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .selectExpr("doc_id", "n_bigrams", "n_novel",
          "(1000000 * n_novel) div n_bigrams as novelty_fp")
        .orderBy(col("doc_id"))
    }),

    "q89_rrf_fusion" -> ((s, d) => {
      // hybrid search: lexical (fixed-point BM25) and dense (exact cosine to
      // the vec_id-0 query embedding) retrievers, each returning its top-100,
      // fused by Reciprocal Rank Fusion with integer 1e6 div (60+rank)
      // contributions. Ranking happens AFTER each retriever's top-k cut, so
      // the single-partition window only ever sees k rows — the bounded
      // fusion shape, not a global sort. Docs absent from one list simply
      // contribute nothing (full outer join), as in the RRF paper.
      val W = org.apache.spark.sql.expressions.Window
      val lex = bm25Fixed(s, d, searchTerms)
        .orderBy(col("score_fp").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), row_number()
          .over(W.orderBy(col("score_fp").desc, col("doc_id"))).cast("long").as("ra"))
      val qv = embVecs(s, d, col("vec_id") === 0).select(col("vec").as("qvec"))
      val dense = embVecs(s, d, col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("id").as("doc_id"), V.cosine(col("vec"), col("qvec")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), row_number()
          .over(W.orderBy(col("cos").desc, col("doc_id"))).cast("long").as("rb"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .selectExpr("doc_id", "ra", "rb",
          "coalesce(1000000 div (60 + ra), 0L) + coalesce(1000000 div (60 + rb), 0L) as rrf_fp")
        .orderBy(col("rrf_fp").desc, col("doc_id")).limit(20)
    }),

    // ---------------------------------------------------------------- multimodal dedup
    "q90_image_phash_neardup" -> ((s, d) => {
      // image near-duplicate detection by perceptual hash: REAL PPM payloads
      // (Codecs round-trip) decode to pixels, a 64-bit block-sum aHash
      // (Multimodal.imagePhash); candidates come from a banded equi-join on
      // all C(8,2) = 28 unordered BLOCK-PAIR keys (16 bits → 65536 buckets
      // per band) via the GUARDED Dedup.bucketedPairs (degenerate bands
      // degrade to star pairs instead of going quadratic), then verify with
      // bit_count(xor) ≤ 6 of 64 — REAL near-dup strictness (9%). Key-space
      // history, measured by the ScaleUp sweeps: 16-key 32-bit bands went
      // 50× at sf1.0 (r11, fixed to single 8-bit blocks = 256 keys); the
      // 256-key variant held at 10× data but went 38× at the SECOND decade
      // (sf10, r12) — any fixed key space fills linearly and pairs grow
      // quadratically, so each decade of corpus needs ~2× the key BITS.
      // Block-pair keys keep the recall THEOREM while multiplying the key
      // space by 256: with ≤ 6 differing bits at most 6 of the 8 blocks are
      // damaged, so ≥ 2 blocks are clean and their PAIR is an identical
      // 16-bit key — every true pair still collides, exactly as the
      // quadratic oracle demands. The third decade is CODE, not prose:
      // Dedup.blockPairBands(blocks = 16) bands a 128-bit hash (two words)
      // under the same theorem with ham budget ≤ 14 — property-proven at
      // both settings in BlockPairBandsSpec, so the decade is a config
      // change. Strictness: the base corpus has no accidental matches
      // at 6/64, so detection is non-vacuous by PLANTED twins (the q143
      // derived-snapshot discipline): every %5 image doc gains a copy with
      // its first character edited (id + 999999 — ≡ 0 mod 3, so the twin
      // synthesizes as an image too); each twin pair lands at ham 0-4 and
      // must be recalled exactly. The hash table is checkpointed once (it
      // feeds both the bands and the verification).
      val base = Tables.documents(s, d)
      // the twin offset must clear every real id — a collision would fan
      // out the a/b hash joins on a duplicate doc_id and silently diverge
      // from the oracle. The guard is IN THE PLAN (VERDICT r12 #4 — plan
      // construction runs no job): every base row flows through the guarded
      // id, so the first action refuses loudly at the scale where the
      // collision would start
      val guardedId = when(col("doc_id") < 999999L, col("doc_id"))
        .otherwise(raise_error(concat(
          lit("q90 twin offset 999999 collides with real doc_id "),
          col("doc_id").cast("string"),
          lit(" at this corpus size - raise the offset (and its oracle " +
            "twin) together"))).cast("long"))
      val corpus = base.select(guardedId.as("doc_id"), col("text"))
        .unionByName(base
          .where(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0 &&
            length(col("text")) > 0)
          .select((col("doc_id") + 999999L).as("doc_id"),
            concat(lit("Z"), expr("substring(text, 2)")).as("text")))
      val ph = graft.multimodal.Multimodal.imagePhash(
        graft.multimodal.Multimodal.synthesizeReal(corpus))
        .localCheckpoint()
      val bands = Dedup.blockPairBands(
        ph.select(col("doc_id").as("id"), array(col("phash")).as("hash")),
        blocks = 8)
      Dedup.bucketedPairs(bands)
        .join(ph.select(col("doc_id").as("a"), col("phash").as("pa")), "a")
        .join(ph.select(col("doc_id").as("b"), col("phash").as("pb")), "b")
        .select(col("a").as("id_a"), col("b").as("id_b"),
          expr("bit_count(pa ^ pb)").cast("long").as("ham"))
        .where(col("ham") <= 6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q169_collapsed_phash_neardup" -> ((s, d) => {
      // q90's image near-dup with the CLIQUE-COLLAPSED candidate generator
      // (Dedup.collapsedBandCandidates — the r17 structural answer to the
      // sf100 measurement that retired key-widening: candidate volume at
      // the third decade is genuine duplicate cliques colliding under ANY
      // banding, PLANS r16 §6). Identical-phash classes collapse to one
      // representative BEFORE banding; members re-enter as ham-0 STAR
      // edges, so a clique of m exact-duplicate images costs m−1 rows
      // instead of C(m,2)·28 band enumerations, and both the band table
      // and every bucket shrink to distinct-hash size. Output contract is
      // star ∪ verified rep pairs — by the collapse theorem (members are
      // bit-identical to reps, so rep distance = member distance and the
      // pigeonhole recall carries) this is EXACTLY the SQL twin's
      // group-by-phash stars ∪ brute-force-over-reps pairs. Exact-dup
      // mass is planted (%21 docs gain a byte-identical copy → identical
      // pixels → identical phash) on top of q90's edited twins (%15,
      // ham 0-4), so both channels are non-vacuous at every sf.
      val base = Tables.documents(s, d)
      val guardedId = when(col("doc_id") < 999999L, col("doc_id"))
        .otherwise(raise_error(concat(
          lit("q169 offsets 999999/1999998 collide with real doc_id "),
          col("doc_id").cast("string"),
          lit(" at this corpus size - raise the offsets (and their oracle " +
            "twins) together"))).cast("long"))
      val corpus = base.select(guardedId.as("doc_id"), col("text"))
        .unionByName(base
          .where(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0 &&
            length(col("text")) > 0)
          .select((col("doc_id") + 999999L).as("doc_id"),
            concat(lit("Z"), expr("substring(text, 2)")).as("text")))
        .unionByName(base
          .where(col("doc_id") % 3 === 0 && col("doc_id") % 7 === 0 &&
            length(col("text")) > 0)
          .select((col("doc_id") + 1999998L).as("doc_id"), col("text")))
      val ph = graft.multimodal.Multimodal.imagePhash(
        graft.multimodal.Multimodal.synthesizeReal(corpus))
        .localCheckpoint()
      // the FUSED form (r17): canonical-band emission computes each rep
      // pair's Hamming inline and emits it exactly once — no candidate
      // distinct shuffle, no verify joins (Dedup.collapsedVerifiedPairs;
      // BandCanonicalSpec pins set-equality with the composite
      // bucketedPairs + verify path)
      Dedup.collapsedVerifiedPairs(
          ph.select(col("doc_id").as("id"), array(col("phash")).as("hash")),
          blocks = 8, order = 2, budget = 6)
        .select(col("a").as("id_a"), col("b").as("id_b"), col("ham"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---------------------------------------------------------------- vector ops
    "q87_pq_assign" -> ((s, d) => {
      // product quantization: the 64-dim embedding splits into two 32-dim
      // subspaces, each half assigned to its nearest of 16 deterministic
      // centroids (vec_id < 16 — train-free selection, the Ivf precedent);
      // cell = the (cell1, cell2) code pair. Centroids are a driver-held
      // bounded model; assignment is a NARROW argmin over literal arrays
      // (array_min of (dist, cid) structs — ties to the lowest cid), zero
      // shuffles before the final per-cell aggregate. Distance folds run
      // left-to-right in index order, so the doubles are bit-identical to
      // the SQL twin (the duckCos discipline).
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      val cents = emb.where(col("vec_id") < 16)
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      def dist(half: Column, c: Seq[Double]): Column =
        aggregate(zip_with(half, typedLit(c), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
      def best(half: Column, sub: Int): Column =
        array_min(array(cents.map { case (cid, vec) =>
          val cslice = if (sub == 0) vec.slice(0, 32) else vec.slice(32, 64)
          struct(dist(half, cslice).as("dd"), lit(cid).as("cid"))
        }: _*))
      emb.select(col("vec_id"),
          best(expr("slice(v, 1, 32)"), 0).as("b1"),
          best(expr("slice(v, 33, 32)"), 1).as("b2"))
        .select(col("vec_id"), col("b1.cid").as("cell1"), col("b2.cid").as("cell2"),
          (col("b1.dd") + col("b2.dd")).as("err"))
        .groupBy(col("cell1"), col("cell2"))
        .agg(count(lit(1)).as("n_vecs"),
          round(min(col("err")), 6).as("min_err"),
          round(max(col("err")), 6).as("max_err"))
        .orderBy(col("cell1"), col("cell2"))
    }),

    "q98_ivfpq_adc" -> ((s, d) => {
      // IVF-PQ search with asymmetric distance computation (ADC) — the
      // composition of the q39 coarse index and the q87 sub-codebooks, the
      // billion-scale ANN layout (Jégou et al., Faiss IVFPQ). The stored
      // index carries ONLY (cell, code1, code2) per vector — a cell id and
      // two 4-bit codes instead of 64 doubles, a ~100× memory cut that is
      // the point of PQ. Each query computes a 16-entry L2 lookup table per
      // subspace ONCE (driver-held codebooks, fused folds), then every
      // candidate scores by TWO array lookups — the 64-double vector is
      // never touched during scoring. by_residual=false (Faiss's raw-vector
      // IVFPQ option): codes quantize the vector itself, not the cell
      // residual, which keeps ONE codebook corpus-wide. Deterministic
      // throughout (train-free centroid selection, ties to lowest id), so
      // the DuckDB oracle rebuilds the identical index and the approximate
      // distances themselves hash-match.
      // the coarse model rides as a table (r16, no nlist collect); the
      // 16-entry codebook stays a bounded driver literal (fixed 2^bits
      // size — it does not grow with the corpus)
      val emb = embVecs(s, d)
      val coarse = Ivf.centroidTable(emb, col("id") % 64 === 0)
      val cb = emb.where(col("id") < 16).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      val splits = Seq((1, 32), (33, 32))
      Ivf.adcSearchFromCentTable(Ivf.pqIndexFromTable(emb, coarse, cb, splits),
          embVecs(s, d, col("vec_id") % 100 === 0), coarse, cb, splits,
          nprobe = 3, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q162_ivfpq_from_index" -> ((s, d) => {
      // the ANN daily cycle served from the PERSISTED PQ index (VERDICT r12
      // #2 — the fifth serving artifact): day 0 builds the cell-partitioned
      // index from the even-id half with the staged-swap discipline
      // (yesterday's index stays served through the build), day 1's odd-id
      // crawl encodes against the FROZEN coarse centroids + codebooks and
      // appends as new files inside its cells (history never re-encodes,
      // disjoint ids enforced), and the probe reads ONLY the probed cells'
      // files — partition pruning, no corpus-side exchange (PlanShapeSpec).
      // Same deterministic train-free models as q98, so the DuckDB oracle
      // rebuilds the identical index logically and the approximate
      // distances hash-match; different probe set/params than q98 keep the
      // two queries distinct.
      // frozen models, now frozen as DATA (r16): the coarse table feeds
      // build, append, and probe without an nlist collect; only the
      // bounded probed-cell set collects (the static partition filter)
      val emb = embVecs(s, d)
      val coarse = Ivf.centroidTable(emb, col("id") % 64 === 0)
      val cb = emb.where(col("id") < 16).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      val splits = Seq((1, 32), (33, 32))
      Ivf.writePqIndexTable(
        Ivf.pqIndexFromTable(emb.where(col("id") % 2 === 0), coarse, cb, splits),
        "q162_idx")
      Ivf.appendPqIndexTableFromTable(emb.where(col("id") % 2 === 1), "q162_idx",
        coarse, cb, splits)
      Ivf.adcSearchFromTableCT(s, "q162_idx",
          embVecs(s, d, col("vec_id") % 50 === 0), coarse, cb, splits,
          nprobe = 2, k = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---------------------------------------------------------------- tokenizer / packing
    "q93_bpe_merges" -> ((s, d) =>
      // BPE tokenizer training: 8 merge rounds over the top-1000 word-
      // frequency vocabulary (see Bpe.learnMerges for the scale argument —
      // the corpus collapses to a bounded vocab before any iteration).
      Bpe.learnMerges(Tables.documents(s, d), rounds = 8, vocabSize = 1000)
        .orderBy(col("merge_round"))),

    "q94_seq_packing" -> ((s, d) =>
      // training-sequence packing with NEXT-FIT (wasted-tail) semantics —
      // the loader-faithful variant of q45's divisible running sum; one
      // shuffle + a streaming O(1)-state pass (secondary-sort pattern)
      CorpusOps.packNextFit(Tables.documents(s, d), col("doc_id"),
        size(T.tokens(col("text"))).cast("long"), tokensPerBin = 512, nWorkers = 8)
        .orderBy(col("doc_id"))),

    "q95_bpe_tokenize" -> ((s, d) => {
      // tokenizer APPLY: the learned merges come from the PERSISTED artifact
      // (Bpe.mergeArtifact — learning runs once per corpus/params in this
      // JVM, as a real pipeline trains once and ships the merge table), then
      // replay corpus-wide as a narrow codegen'd replace chain — zero
      // shuffles over the documents being segmented
      val m = Bpe.mergeArtifact(Tables.documents(s, d), rounds = 8,
        vocabSize = 1000, key = d)
      Bpe.tokenize(Tables.documents(s, d), m).orderBy(col("doc_id"))
    }),

    "q96_token_budget_mix" -> ((s, d) => {
      // assemble the training mix: each source contributes its best docs (the
      // q27 quality heuristic in ×1e6 fixed point — integer bits, engine-
      // independent) until a per-source TOKEN budget fills; strict prefix
      // rule (inclusive running sum ≤ budget). One shuffle on source + one
      // window — sources number in the thousands at corpus scale, ample
      // parallelism
      val w = T.tokens(col("text"))
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(w).cast("long").as("n_tokens"),
        size(filter(w, x => x.isin("the", "a"))).cast("long").as("n_stop"))
      val q = base.selectExpr("doc_id", "source", "n_tokens",
        "(1000000 * least(n_tokens, 50) * (n_tokens - n_stop)) div (50 * n_tokens) as quality_fp")
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("quality_fp").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      q.withColumn("cum_tokens", sum(col("n_tokens")).over(win))
        .where(col("cum_tokens") <= 1024)
        .select(col("doc_id"), col("source"), col("quality_fp"),
          col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q97_incremental_neardup" -> ((s, d) => {
      // daily-crawl dedup: NEW docs (upper id half — the split point is a
      // 1-row max aggregate BROADCAST into both halves, in-plan rather than
      // a driver head() so no extra job runs at construction) against the
      // EXISTING corpus (lower half) only — one banded equi-join,
      // existing×existing pairs never materialize; exact Jaccard verify of
      // candidates, same (36, 12) parameters whose recall q32's quadratic
      // oracle proves
      val all = docShingles(s, d, 2).localCheckpoint()
      // the split point is a SCALAR SUBQUERY over the checkpointed table —
      // in-plan (construction runs no job; the 1-row max evaluates once at
      // execution and ReuseSubquery shares it between both halves), and no
      // join node, so the equi-key-only plan pin holds
      all.createOrReplaceTempView("q97_shingles")
      val halfSq = "(select (max(id) + 1) div 2 from q97_shingles)"
      val newDocs = all.where(expr(s"id >= $halfSq"))
      val oldDocs = all.where(expr(s"id < $halfSq"))
      Dedup.verifyJaccardGated(
          Dedup.incrementalCandidates(newDocs, oldDocs, k = 36, bands = 12), all, 0.8)
        .orderBy(col("a"), col("b"))
    }),

    "q100_semantic_dedup" -> ((s, d) => {
      // SemDeDup (Abbas et al. 2023): IVF-cell-scoped semantic dedup — the
      // embedding-space curation pass of a pretraining pipeline. Same
      // deterministic coarse centroids as q39; duplicate pairs (cosine >=
      // 0.3) are detected INSIDE a cell only, clustered, and the survivor is
      // the member LEAST similar to its centroid (the paper's
      // diversity-keeping choice), ties to the smallest id. The oracle
      // rebuilds the identical index, pair set, transitive closure, and
      // survivor ranking — the approximate pipeline is hash-gated end-to-end.
      // model-as-data path (r16): no O(nlist) centroid collect
      val corpus = embVecs(s, d)
      val cents = Ivf.centroidTable(corpus, col("id") % 64 === 0)
      Similarity.semanticDedupFromTable(corpus, cents, tau = 0.3)
        .orderBy(col("cluster_id"))
    }),

    "q101_split_assign" -> ((s, d) =>
      // leakage-safe deterministic train/val/test split: the split key
      // hashes the CONTENT digest, not the doc id — byte-identical
      // duplicates land in the same split by construction, so exact-dup
      // test-set leakage is structurally impossible (the q44
      // decontamination concern solved at assignment time, the standard
      // split-by-content-hash production rule). hash60 buckets:
      // 0-89 train / 90-94 val / 95-99 test. Narrow per-doc map + ONE
      // aggregation — scan speed at any corpus size.
      Tables.documents(s, d)
        .select(col("source"),
          (T.hash60(concat(lit("split:"), md5(col("text")))) % 100).as("bucket"),
          size(T.tokens(col("text"))).cast("long").as("n_tokens"),
          md5(col("text")).as("digest"))
        .select(col("source"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test").as("split"),
          col("n_tokens"), col("digest"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("digest")).as("n_uniq"))
        .orderBy(col("split"), col("source"))),

    "q102_pmi_collocations" -> ((s, d) => {
      // collocation extraction: top-20 word bigrams by PMI association
      // strength. PMI = log P(ab)/(P(a)P(b)) is rank-monotone in
      // c_ab/(c_a*c_b) (N factors are row-constant), so the score is the
      // ×1e12 fixed-point ((c_ab*1e6) div c_a)*1e6 div c_b — staged so no
      // intermediate exceeds c_ab*1e6 (overflow-free to c_ab ≤ 9e12
      // occurrences, i.e. far past a 100 TB corpus) and engine-independent
      // bits, the q84/q85 discipline. Min support c_ab >= 3.
      // Shapes: one groupBy per n-gram order; the unigram count table is
      // vocab-bounded (Heaps' law) and BROADCAST to the bigram side; the
      // global top-20 is a TakeOrdered, never a full sort.
      val uni = Tables.documents(s, d)
        .select(explode(T.tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val bi = docBigrams(s, d)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= 3)
      bi.join(broadcast(uni.select(col("t").as("w1"), col("c").as("c_a"))), Seq("w1"))
        .join(broadcast(uni.select(col("t").as("w2"), col("c").as("c_b"))), Seq("w2"))
        .selectExpr("w1", "w2", "c_ab",
          "((c_ab * 1000000) div c_a) * 1000000 div c_b as pmi_fp")
        .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    "q103_priority_sample" -> ((s, d) =>
      // weighted PRIORITY sampling (Duffield-Lund-Thorup): weight = doc
      // length, priority = w/u for uniform u — realized deterministically as
      // priority_fp = (w*1e9) div (h30+1) with h30 a 30-bit id-seeded
      // hash (u surrogate = (h30+1)/2^30), integer-exact in both engines.
      // The global top-64 by (priority, id) is a TakeOrdered — per-partition
      // bounded heaps merged on the driver, never a full sort; exact for
      // w ≤ 9e6 (w*1e9 stays under 2^53 even if an engine routes through
      // doubles — document lengths are orders of magnitude below that).
      // The k+1-th priority is the Horvitz-Thompson threshold if estimation
      // is needed downstream — same query with limit 65.
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("weight"),
          (T.hash60(concat(lit("ps:"), col("doc_id").cast("string")))
            .bitwiseAND(lit((1L << 30) - 1))).as("h30"))
        .selectExpr("doc_id", "weight",
          "(weight * 1000000000) div (h30 + 1) as priority_fp")
        .orderBy(col("priority_fp").desc, col("doc_id"))
        .limit(64)),

    "q104_token_windows" -> ((s, d) =>
      // context-length chunking: each document's token stream split into
      // overlapping training windows (size 64, stride 48 — the standard
      // document→sequence step before packing). One narrow Generate per doc,
      // zero shuffles before the output sort; the window CONTENT is
      // hash-gated via md5 of the space-joined slice, so the oracle proves
      // byte-exact window reassembly, not just counts.
      Tables.documents(s, d)
        .select(col("doc_id"), T.tokens(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).as("n"), col("w"),
          explode(expr("sequence(0, size(w) - 1, 48)")).as("start"))
        .select(col("doc_id"), col("start"),
          expr("start div 48").as("win_id"),
          least(lit(64), col("n") - col("start")).as("n_tok"),
          md5(array_join(slice(col("w"), col("start") + 1, lit(64)), " ")).as("win_md5"))
        .orderBy(col("doc_id"), col("win_id"))),

    "q105_dsir_weights" -> ((s, d) => {
      // DSIR-style data selection (Xie et al. 2023, "Data Selection for
      // Language Models via Importance Resampling"): score each raw-pool
      // document by how target-like its hashed n-gram feature profile is,
      // keep the top-k. Target = the `en` slice, raw = everything else;
      // features are word bigrams hashed into 4096 buckets (the paper's
      // hashed-ngram reduction — the feature space is BOUNDED regardless of
      // corpus size, which is the whole scale story). Per-feature affinity is
      // the +1-smoothed COUNT ratio in fixed point,
      //   r_fp(b) = (1e6·(c_tgt(b)+1)) div (c_raw(b)+1)
      // — the DSIR probability ratio times the constant (R+V)/(T+V), which
      // scales every document's score equally and so preserves the ranking
      // while keeping the arithmetic integer (engine-independent bits; the
      // q71/q85 idiom). Overflow-free domain proven in FixedPointSpec:
      // c_tgt ≤ 1e9 occurrences per bucket, ≤ 1e4 bigrams per doc.
      // Shapes for 100 TB: ONE conditional aggregation builds both corpus
      // profiles (≤4096 rows → broadcast); scoring is one per-(doc,bucket)
      // partial-aggregated shuffle + a broadcast join; top-k is TakeOrdered.
      val fb = graft.operators.Dsir.hashedBigrams(
        Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("lang"), col("text")),
        buckets = 4096, salt = "dsir:")
      val ratios = graft.operators.Dsir.ratioTable(
        fb.withColumn("is_target", col("lang") === "en"))
      graft.operators.Dsir.score(fb.where(col("lang") =!= "en"), ratios)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("weight_fp"))
        .orderBy(col("weight_fp").desc, col("doc_id").asc)
        .limit(64)
    }),

    "q106_paragraph_dedup" -> ((s, d) => {
      // INTER-document duplicate-passage filtering (the RefinedWeb /
      // MassiveText fuzzy-line rule, Penedo et al. 2023 §3.3, Rae et al.
      // 2021 A1.2): q30 drops whole-document copies and q62 scores
      // repetition WITHIN a document; this flags documents whose content is
      // largely made of passages that also occur ELSEWHERE in the corpus
      // (boilerplate, licenses, navigation). Passage = non-overlapping
      // 8-word chunk (tail kept); a doc is dropped when ≥ 30% of its tokens
      // sit in chunks whose md5 occurs ≥ 2 times corpus-wide.
      // Shapes for 100 TB: chunking is one narrow Generate; the global
      // digest census is a map-side-combinable count; charging occurrence
      // back to docs is a digest equi-join (the q63 postings shape) + one
      // per-doc aggregation. Fixed-point fraction → engine-independent bits.
      val ch = Tables.documents(s, d)
        .select(col("doc_id"), T.tokens(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).as("n"), col("w"),
          explode(expr("sequence(0, size(w) - 1, 8)")).as("st"))
        .select(col("doc_id"),
          least(lit(8), col("n") - col("st")).as("ntok"),
          md5(array_join(slice(col("w"), col("st") + 1, lit(8)), " ")).as("dg"))
      val census = ch.groupBy(col("dg")).agg(count(lit(1)).as("occ"))
      ch.join(census, "dg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("ntok")).as("tot_tok"),
          sum(when(col("occ") >= 2, col("ntok")).otherwise(0L)).as("dup_tok"))
        .selectExpr("doc_id", "n_chunks", "tot_tok", "dup_tok",
          "(1000000 * dup_tok) div tot_tok as dup_fp",
          "(1000000 * dup_tok) div tot_tok < 300000 as keep")
        .orderBy(col("doc_id"))
    }),

    "q107_kmeans_lloyd" -> ((s, d) => {
      // Lloyd's k-means over the embeddings — LEARNED centroids, where the
      // IVF family (q39/q98/q100) uses id-sampled ones: k=8 seeded from
      // vec_id 0..7, 3 assignment/update rounds. All arithmetic is 1e6
      // fixed-point (floor(x·1e6) per coordinate — floor, not cast: DuckDB
      // CAST rounds where Spark truncates; `div` truncation matches on both
      // engines even for negative sums), so centroids are engine-independent
      // integer bits with no float-summation order sensitivity.
      // Shapes for 100 TB: each round is ONE narrow argmin over k
      // driver-held centroid literals (no join — the q87 PQ-assign shape)
      // + ONE (cluster, dim) aggregation whose output is k·dim rows
      // (collected: 512 longs). A cluster that loses every member drops out
      // (k shrinks) — identically on both engines. Output = final round's
      // (cluster, dim, mean_fp, n_members).
      val e = embVecs(s, d).select(col("id"),
        expr("transform(vec, x -> cast(floor(x * 1000000.0d) as bigint))").as("vfp"))
        // materialize ONCE: e is scanned by the seed collect, by each of the
        // 3 Lloyd rounds' update.collect(), and by the final output — the
        // fixed-point lift would otherwise re-run from parquet 4-5×
        .localCheckpoint()
      var cents: Seq[(Long, Seq[Long])] = e.where(col("id") < 8)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      for (_ <- 1 to 2)
        cents = Ivf.fpCentroidsOf(Ivf.fpLloydUpdate(e, cents))
      Ivf.fpLloydUpdate(e, cents).orderBy(col("cluster"), col("dim"))
    }),

    "q108_centroid_classify" -> ((s, d) => {
      // nearest-class-centroid auto-labeling (Rocchio / prototypical
      // classification) + its confusion matrix — the label-propagation /
      // label-QA pass of a curation pipeline. Class prototypes are the
      // per-label mean embeddings in floor(x·1e6) fixed point (q107's
      // arithmetic: engine-independent bits, no float summation order);
      // assignment is the narrow argmin over the k·dim driver-held
      // prototype literals — no join — and the confusion matrix is one
      // (label, pred) aggregation. At 100 TB: one bounded-output agg to
      // learn prototypes, then scan-speed classification.
      val e = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("label"),
        expr("transform(embedding, " +
          "x -> cast(floor(cast(x as double) * 1000000.0d) as bigint))").as("vfp"))
      val cents = e.select(col("label"), posexplode(col("vfp")))
        .groupBy(col("label"), col("pos"))
        .agg(expr("sum(col) div count(1)").as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).toSeq
        .map { case (l, rows) => (l, rows.sortBy(_._2).map(_._3).toSeq) }
        .sortBy(_._1)
      val d2s = cents.map { case (l, c) =>
        struct(aggregate(zip_with(col("vfp"), typedlit(c),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x).as("d2"),
          lit(l).as("l"))
      }
      e.select(col("label"), array_min(array(d2s: _*)).getField("l").as("pred"))
        .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("pred"))
    }),

    "q109_source_overlap" -> ((s, d) => {
      // cross-source contamination matrix: how many distinct 8-word passages
      // each PAIR of sources shares — the provenance report behind "these
      // two crawl dumps are the same site" decisions (and the pair-level
      // view of q106's corpus-wide census). Per-digest state is the distinct
      // SOURCE set (bounded by the source count, a small constant — never
      // the doc list), so the groupBy cannot blow up on a boilerplate
      // digest; pair expansion is ≤ C(n_sources, 2) rows per digest.
      val ch = Tables.documents(s, d)
        .select(col("source"), T.tokens(col("text")).as("w"))
        .select(col("source"), col("w"),
          explode(expr("sequence(0, size(w) - 1, 8)")).as("st"))
        .select(col("source"),
          md5(array_join(slice(col("w"), col("st") + 1, lit(8)), " ")).as("dg"))
        .distinct()
      ch.groupBy(col("dg")).agg(array_sort(collect_set(col("source"))).as("srcs"))
        .where(size(col("srcs")) >= 2)
        .select(explode(expr("flatten(transform(srcs, (x, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), " +
          "y -> struct(x AS src_a, y AS src_b))))")).as("p"))
        .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    "q110_hard_negatives" -> ((s, d) => {
      // hard-negative mining for contrastive training: per anchor, the top-5
      // most-similar embeddings with a DIFFERENT label (high-similarity
      // wrong-class rows are the negatives that carry gradient). q35's
      // broadcast brute-force scan with the label inequality folded into the
      // join predicate — same-class rows never reach the scorer. The anchor
      // set is ABSOLUTELY bounded (256 ids by the q57/q120 hash60 bottom-k
      // draw), NOT a corpus fraction: the r14 sf10 sweep caught the original
      // `id % 50` anchors going quadratic — anchors × corpus both scale, 453 s
      // at sf10 and 100× per decade — exactly the q120 lesson ("a gate must
      // stay runnable on the production corpus"). This query is the mining
      // QUALITY gate; mining negatives for every anchor at corpus scale
      // batches through the persisted IVF index (q162's artifact) instead of
      // any brute-force scan.
      val e = Tables.embeddings(s, d).select(col("vec_id").as("id"),
        V.asDouble(col("embedding")).as("vec"), col("label"))
      val anchors = e.join(
        CorpusOps.sampleStratifiedBounded(Tables.embeddings(s, d),
          col("vec_id"), lit(1), quota = 256, salt = "q110")
          .select(col("id")),
        "id")
      Similarity.hardNegatives(e, anchors, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q111_corpus_datasheet" -> ((s, d) => {
      // the per-(source, lang) corpus datasheet (Gebru et al., "Datasheets
      // for Datasets"): doc/token/char volumes, vocabulary size, and the
      // derived densities a curation review reads first — tokens per doc,
      // chars per token, type-token ratio — all fixed-point. Per-doc counts
      // are in-row scalars; the vocabulary needs ONE distinct-token
      // aggregation (partial-combined on (source, lang, token)); the two
      // ~|sources×langs|-row summaries join broadcast-small.
      val tok = Tables.documents(s, d)
        .select(col("source"), col("lang"), col("text"), T.tokens(col("text")).as("w"))
        .select(col("source"), col("lang"), col("w"),
          size(col("w")).cast("long").as("nt"),
          (length(col("text")) - (size(col("w")) - 1)).cast("long").as("nc"))
      val vols = tok.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          sum(col("nc")).as("n_chars"))
      val vocab = tok.select(col("source"), col("lang"), explode(col("w")).as("t"))
        .groupBy(col("source"), col("lang"))
        .agg(countDistinct(col("t")).as("n_uniq_tokens"))
      vols.join(vocab, Seq("source", "lang"))
        .selectExpr("source", "lang", "n_docs", "n_tokens", "n_uniq_tokens",
          "(1000000 * n_tokens) div n_docs as tokens_per_doc_fp",
          "(1000000 * n_chars) div n_tokens as chars_per_token_fp",
          "(1000000 * n_uniq_tokens) div n_tokens as ttr_fp")
        .orderBy(col("source"), col("lang"))
    }),

    "q112_minhash_calibration" -> ((s, d) => {
      // sketch-accuracy calibration: for every exact pair with jac ≥ 0.1
      // (q31's postings join, the lower cut widening the calibration range
      // without touching the join cost), the MinHash ESTIMATE — the fraction of
      // matching signature components, E[est] = jac — next to the true
      // Jaccard. The operational report behind choosing k: how tight is the
      // k=32 estimator on THIS corpus. Signatures are the same md5-based
      // Kirsch-Mitzenmacher family as the LSH path (the oracle rebuilds
      // identical bits); per-pair work is one zip_with over two k-arrays,
      // joined by id — signatures cross the exchange once per side, never
      // per candidate.
      // materialize ONCE: dsh feeds the postings pair join plus both
      // signature id-joins — three consumers that would each re-run the
      // shingle extraction from parquet without the checkpoint
      val dsh = docShingles(s, d, 2, col("doc_id") % 3 === 0).localCheckpoint()
      val nonEmpty = dsh.where(size(col("shingles")) > 0)
      // the signature table ALSO materializes once (r16): both id-joins
      // below read it, and without the checkpoint the 2-md5-per-shingle
      // base hashing + 32 k-mins pipeline runs once per join side — the
      // same multi-consumer rule as dsh itself (the r15 "share the
      // derived tables" item, landed where the profile actually pays)
      val sigs = (
        if (s.catalog.functionExists("minhash_signature"))
          nonEmpty.select(col("id"), expr("minhash_signature(shingles, 32)").as("sig"))
        else {
          val (b1, b2) = T.minhashBases(col("shingles"))
          nonEmpty.select(col("id"), b1.as("b1"), b2.as("b2"))
            .select(col("id"), T.minhashSignatureFromBases(col("b1"), col("b2"), 32).as("sig"))
        }).localCheckpoint()
      Dedup.allPairsJaccard(dsh, 0.1)
        .join(sigs.select(col("id").as("a"), col("sig").as("siga")), "a")
        .join(sigs.select(col("id").as("b"), col("sig").as("sigb")), "b")
        .select(col("a"), col("b"), col("jac"),
          expr("(1000000 * size(filter(zip_with(siga, sigb, (x, y) -> x = y), " +
            "v -> v))) div 32").as("est_fp"))
        .orderBy(col("a"), col("b"))
    }),

    "q113_quality_perceptron" -> ((s, d) => {
      // the supervised sibling of q105: a linear quality classifier over
      // hashed n-gram features — the fastText/CCNet-style curation model
      // (GPT-3's WebText filter) — trained DISTRIBUTED as a batch
      // perceptron. Labels are the q27 length-quality rule (y = +1 iff
      // ≥ 50 tokens): a content label would be unlearnable here (q28 — the
      // corpus vocabulary is language-independent), while the length rule
      // IS linearly expressible over counts once a constant BIAS feature
      // (b = −1, c = 1 per doc) joins the hashed bigrams — so the confusion
      // matrix shows real convergence, not an oscillation artifact. Eight
      // batch rounds (497/500 training accuracy at sf0.01 — the mistake
      // bound kicks in once the bias weight walks to the threshold), each:
      // score = Σ c·w via a BROADCAST join of the
      // ≤1025-row weight vector, misclassify at y·s ≤ 0, Δw(b) = Σ_mis y·c
      // — a bounded-output bucket aggregation collected to the driver. ALL
      // arithmetic is plain integers (counts × ±1 labels — no division, no
      // floats), so the entire training trajectory is engine-exact;
      // overflow-free domain in FixedPointSpec. Output = the training
      // confusion matrix: any weight divergence anywhere in the 8 rounds
      // flips a prediction and fails the hash.
      val base = Tables.documents(s, d)
        .select(col("doc_id"), T.tokens(col("text")).as("w"))
        .where(size(col("w")) >= 2)
        .select(col("doc_id"),
          when(size(col("w")) >= 50, 1L).otherwise(-1L).as("y"), col("w"))
      val dc = base
        .select(col("doc_id"), col("y"), explode(expr(
          "transform(sequence(0, size(w) - 2), " +
            "i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))")).as("g"))
        .select(col("doc_id"), col("y"),
          (T.hash60(concat(lit("qp:"), col("g"))) % 1024).as("b"))
        .groupBy(col("doc_id"), col("y"), col("b")).agg(count(lit(1)).as("c"))
        .unionByName(base.select(col("doc_id"), col("y"),
          lit(-1L).as("b"), lit(1L).as("c")))
        // materialize ONCE, CO-PARTITIONED BY doc_id (r18 — the q113 phase
        // profile, VERDICT r17 #3): the training loop reads this frame ~17
        // ways (8× scored aggregate, 8× misclassified join, the final
        // matrix), and every one hashes on doc_id. The r17 form
        // localCheckpoint'ed WITHOUT the repartition, so each pass
        // re-EXCHANGED the full feature table — ~16 corpus-sized shuffles
        // at sf100 were the measured dec3 ~31×. localCheckpoint cannot
        // carry the partitioning into its LogicalRDD (PerceptronProfile
        // measured it: still one exchange per round), so this materializes
        // via persist(): the InMemoryRelation advertises the cached plan's
        // hashpartitioning(doc_id) and every per-round aggregate and join
        // plans EXCHANGE-FREE — PerceptronProfile: rounds 1.0-1.3 s
        // (legacy) → 0.4-0.5 s (cached) at sf1.0, matrices identical.
        // persist() also KEEPS lineage (better executor-loss behavior than
        // the old localCheckpoint); PlanShapeSpec pins the final plan on
        // the InMemoryTableScan.
        .repartition(col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dc.count() // eager, like the checkpoint it replaces
      var w: Map[Long, Long] = Map.empty
      def weightsDf = {
        val rows = if (w.isEmpty) Seq((0L, 0L)) else w.toSeq // never an empty broadcast
        val sess = s; import sess.implicits._
        rows.toDF("b", "wt")
      }
      // group by doc_id ALONE (y is functionally dependent — max picks the
      // one value) so the aggregation's required distribution is satisfied
      // by dc's doc_id co-partitioning: zero exchanges per training round
      def scored = dc.join(broadcast(weightsDf), Seq("b"), "left")
        .groupBy(col("doc_id"))
        .agg(max(col("y")).as("y"),
          sum(col("c") * coalesce(col("wt"), lit(0L))).as("s"))
      for (_ <- 1 to 8) {
        val delta = dc.join(
          scored.where(col("y") * col("s") <= 0)
            .select(col("doc_id")), "doc_id")
          .groupBy(col("b")).agg(sum(col("y") * col("c")).as("dw"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        w = (w.keySet ++ delta.keySet).map(b =>
          b -> (w.getOrElse(b, 0L) + delta.getOrElse(b, 0L))).toMap
      }
      scored
        .select(col("y"), (col("s") > 0).as("pred"))
        .groupBy(col("y"), col("pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("y"), col("pred"))
    })
  )

  // ===================================================================== oracles

  /** Unrolled DuckDB twin of Bpe.learnMerges: stage i splits the wrapped
   * sequences of stage i-1 into symbols, counts adjacent pairs, argmaxes,
   * and applies the merge via the same non-overlapping replace. */
  private def duckBpe(rounds: Int, vocab: Int): String = {
    val sb = new StringBuilder
    sb ++= duckBpeStages(rounds, vocab)
    sb ++= "\n         "
    sb ++= (1 to rounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_round, l AS lhs, r AS rhs, c AS pair_count FROM b$i")
      .mkString("", "\n         UNION ALL ", "\n         ORDER BY merge_round")
    sb.toString
  }

  /** duckBpe's learning stages plus the Bpe.tokenize twin: every document's
   * words wrapped and space-joined, the learned merges replayed as nested
   * replaces (scalar subqueries on the materialized b_i argmaxes), subwords
   * counted as `(` occurrences. */
  // coalesce guard: if the corpus exhausts before `rounds` merges, b$i is
  // empty and its scalar subqueries are NULL — an unguarded replace would
  // NULL every document. chr(1) never occurs in the wrapped corpus, so the
  // guarded replace is an identity, mirroring Spark's early loop exit.
  private def duckBpeApplied(rounds: Int): String =
    (1 to rounds).foldLeft("array_to_string(ws, ' ')") { (acc, i) =>
      s"""replace($acc,
                   coalesce('(' || (SELECT l FROM b$i) || ')(' || (SELECT r FROM b$i) || ')', chr(1)),
                   coalesce('(' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ')', ''))"""
    }

  private def duckBpeTokenize(rounds: Int, vocab: Int): String = {
    val applied = duckBpeApplied(rounds)
    duckBpeStages(rounds, vocab) +
      s""",
         tok AS (SELECT doc_id, list_transform(
                   regexp_extract_all(lower(text), '[a-z]+'),
                   w -> regexp_replace(w, '(.)', '(\\1)', 'g')) AS ws
                 FROM documents),
         seg AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, $applied AS s
                 FROM tok)
         SELECT doc_id, n_words,
                CAST(strlen(s) - strlen(replace(s, '(', '')) AS BIGINT) AS n_subwords
         FROM seg ORDER BY doc_id"""
  }

  private def duckBpeStages(rounds: Int, vocab: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH words AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                 FROM documents)
           WHERE strlen(w) >= 2 GROUP BY w ORDER BY cnt DESC, w LIMIT $vocab),
         s0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS seq, cnt
                             FROM words)"""
    // every stage MATERIALIZED: DuckDB inlines plain CTEs, and each stage
    // references its predecessor ~4× (pairs + three argmax scalar
    // subqueries) — inlined, the 8-round unroll would expand to 4^8 scans
    for (i <- 1 to rounds) {
      sb ++=
        s""",
         p$i AS MATERIALIZED (SELECT sy.syms[t.k + 1] AS l, sy.syms[t.k + 2] AS r,
                        CAST(sum(sy.cnt) AS BIGINT) AS c
                 FROM (SELECT cnt, string_split(seq[2:-2], ')(') AS syms FROM s${i - 1}) sy
                 CROSS JOIN unnest(range(len(sy.syms) - 1)) AS t(k)
                 GROUP BY 1, 2),
         b$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         s$i AS MATERIALIZED (SELECT replace(seq,
                   coalesce('(' || (SELECT l FROM b$i) || ')(' || (SELECT r FROM b$i) || ')', chr(1)),
                   coalesce('(' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ')', '')) AS seq, cnt
                 FROM s${i - 1})"""
    }
    sb.toString
  }

  private def withDocShingles(n: Int, pred: String): String =
    s"""WITH ws AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                    FROM documents WHERE $pred),
             sh AS (SELECT doc_id, ${duckShingles(n)} AS s FROM ws)"""

  val oracles: Map[String, String] = Map(
    "q26_token_stats" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
         FROM documents ORDER BY doc_id""",
    "q27_quality_score" ->
      """SELECT doc_id,
         len(string_split(text,' ')) AS n_tokens,
         round(len(list_filter(string_split(text,' '), w -> w IN ('the','a')))::DOUBLE
               / len(string_split(text,' ')), 4) AS stop_ratio,
         round((length(text) - (len(string_split(text,' ')) - 1))::DOUBLE
               / len(string_split(text,' ')), 4) AS mean_tok_len,
         round(least(1.0, len(string_split(text,' ')) / 50.0)
               * (1.0 - len(list_filter(string_split(text,' '), w -> w IN ('the','a')))::DOUBLE
                        / len(string_split(text,' '))), 4) AS quality
         FROM documents ORDER BY doc_id""",
    "q28_langid" ->
      """SELECT doc_id,
         CASE WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
              WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
              WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
              WHEN s_es >= s_zh THEN 'es'
              ELSE 'zh' END AS pred_lang
         FROM (SELECT doc_id,
           len(list_filter(string_split(text,' '), w -> w IN ('the','a','fast'))) AS s_en,
           len(list_filter(string_split(text,' '), w -> w IN ('table','row','merge'))) AS s_de,
           len(list_filter(string_split(text,' '), w -> w IN ('line','column','sort'))) AS s_fr,
           len(list_filter(string_split(text,' '), w -> w IN ('data','value','stream'))) AS s_es,
           len(list_filter(string_split(text,' '), w -> w IN ('key','hash','scan'))) AS s_zh
           FROM documents) ORDER BY doc_id""",
    "q29_fingerprint" ->
      s"""${withDocShingles(3, "TRUE")}
         SELECT doc_id, md5(text) AS content_md5,
                list_min(list_transform(s, x -> ${duckHash60("x")})) AS shingle_fp
         FROM sh JOIN ws USING (doc_id) ORDER BY doc_id""",
    "q30_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS group_size FROM (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0)
         GROUP BY md5(text) ORDER BY keep_id""",
    "q31_dedup_jaccard" ->
      s"""${withDocShingles(2, "doc_id % 3 = 0")}
         SELECT a.doc_id AS a, b.doc_id AS b, $duckJac AS jac
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE $duckJac >= 0.5 ORDER BY a, b""",
    // Same directed containment over the same distinct shingles, quadratic.
    "q92_containment_dedup" ->
      s"""${withDocShingles(2, "doc_id % 3 = 0")}
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS shared,
                CAST(len(a.s) AS BIGINT) AS sa,
                (1000000::BIGINT * len(list_intersect(a.s, b.s))) // len(a.s) AS cont_fp
         FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
         WHERE (1000000::BIGINT * len(list_intersect(a.s, b.s))) // len(a.s) >= 800000
         ORDER BY a, b""",

    // Same interval build (the q80 CTE) and the same containment-located
    // left join — at most one interval matches (disjoint by construction).
    "q91_pit_feature_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, value
                    FROM events WHERE event_type = 'purchase'),
         iv AS (SELECT user_id, round(value, 4) AS value,
                  ts_us AS valid_from,
                  lead(ts_us, 1) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS valid_to
                FROM p),
         clicks AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
                    FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id, c.us, iv.value AS pit_value
         FROM clicks c LEFT JOIN iv
           ON c.user_id = iv.user_id AND c.us >= iv.valid_from
              AND (iv.valid_to IS NULL OR c.us < iv.valid_to)
         ORDER BY c.event_id""",

    "q32_dedup_minhash_lsh" ->
      s"""${withDocShingles(2, "TRUE")}
         SELECT a.doc_id AS a, b.doc_id AS b, $duckJac AS jac
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE $duckJac >= 0.8 ORDER BY a, b""",
    // Same derived corpus as the engine (%3 slice + identical-text twins of
    // the %15 ids at +1e9), full quadratic scan at the production ham ≤ 3 —
    // twin signatures are bit-identical, so banded recall is structural.
    "q33_dedup_simhash" ->
      s"""${withDocShingles(2, "doc_id % 3 = 0")},
         shx AS (SELECT doc_id, s FROM sh
                 UNION ALL
                 SELECT doc_id + 1000000000 AS doc_id, s FROM sh
                 WHERE doc_id % 15 = 0),
         sig AS (SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 62), b ->
             CASE WHEN list_sum(list_transform(
                    list_transform(s, x -> ${duckHash60("x")}),
                    h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sig
           FROM shx)
         SELECT a.doc_id AS a, b.doc_id AS b, bit_count(xor(a.sig, b.sig)) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3 ORDER BY a, b""",
    // Same derived corpus (%5 slice + ×2-scaled twins of the %25 ids), full
    // quadratic pair scan at τ = 0.9 — the exact oracle the banded engine
    // path must recall completely (twin signatures are bit-identical, so
    // recall is structural).
    "q34_embed_neardup" ->
      s"""WITH b0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                      WHERE vec_id % 5 = 0),
         e AS (SELECT vec_id, v FROM b0
               UNION ALL
               SELECT vec_id + 1000000000 AS vec_id,
                      list_transform(v, x -> x * 2) AS v
               FROM b0 WHERE vec_id % 25 = 0)
         SELECT a.vec_id AS a, b.vec_id AS b, round(${duckCos("a.v", "b.v")}, 4) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(${duckCos("a.v", "b.v")}, 4) >= 0.9 ORDER BY a, b""",
    "q35_knn_cosine" ->
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (${duckBoundedQ("q35", "c")}),
              scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ${duckCos("c.v", "q.v")} AS cos
                FROM c JOIN q ON c.vec_id != q.vec_id)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // DuckDB twin of [[Similarity.annLsh]]: the hyperplane signature is pure
    // md5 parity (VectorFunctions.hyperplaneSignature), so the *approximate*
    // index is itself deterministic and reproducible in SQL — same signatures,
    // same 1-bit multi-probe buckets, same exact-cosine re-rank.
    "q36_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (${duckBoundedQ("q36", "e")}),
         sigs AS (
           SELECT vec_id, v,
             CAST(list_reduce(list_concat([0::BIGINT], list_transform(range(0, 8), j ->
               CASE WHEN list_reduce(list_transform(range(0, 64), i ->
                           v[i+1] * (CASE WHEN CAST(concat('0x', substr(md5(concat(j, ':', i)), 32, 1)) AS INT) % 2 = 1
                                     THEN 1.0 ELSE -1.0 END)),
                         (x, y) -> x + y) > 0
               THEN (1::BIGINT << j) ELSE 0::BIGINT END)), (x, y) -> x + y) AS BIGINT) AS sig
           FROM e),
         probes AS (
           SELECT query_id, qv, UNNEST(allsigs) AS sig FROM (
             SELECT vec_id AS query_id, v AS qv,
                    list_concat([sig], list_transform(range(0, 8), b -> xor(sig, 1::BIGINT << b))) AS allsigs
             FROM sigs WHERE vec_id IN (SELECT vec_id FROM q))),
         cand AS (
           SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id, ${duckCos("c.v", "p.qv")} AS cos
           FROM sigs c JOIN probes p ON c.sig = p.sig
           WHERE c.vec_id != p.query_id)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM cand) WHERE rank <= 5
         ORDER BY query_id, rank""",
    // DuckDB twin of [[Ivf.search]]: centroid selection is a pure id predicate
    // and the argmax tie-breaks on centroid id, so the oracle rebuilds the
    // IDENTICAL inverted-file index in SQL — since r15, through the same
    // TWO-LEVEL assignment chain the engine uses (duckTwoLevelAssign);
    // probes stay the flat top-nprobe over all centroids, as in the engine.
    "q39_ivf_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ${duckTwoLevelAssign(64)},
         probes AS (
           SELECT query_id, qv, cid AS cell FROM (
             SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY ${duckCos("q.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e q CROSS JOIN cent c WHERE q.vec_id % 100 = 0) WHERE rn <= 3),
         cand AS (
           SELECT p.query_id, a.vec_id AS neighbor_id, ${duckCos("a.v", "p.qv")} AS cos
           FROM assigned a JOIN probes p USING (cell)
           WHERE a.vec_id != p.query_id)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM cand) WHERE rank <= 5
         ORDER BY query_id, rank""",
    // Recursive-CTE twin of [[Dedup.components]]: the transitive closure over
    // the same verified near-dup pairs (q32's quadratic oracle), min-label
    // per node — both sides converge to component = min reachable id.
    "q41_neardup_clusters" ->
      s"""WITH RECURSIVE
         ws AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT doc_id, ${duckShingles(2)} AS s FROM ws),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.8),
         sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         reach(id, peer) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.id, s.b FROM reach r JOIN sym s ON r.peer = s.a),
         labeled AS (
           SELECT id, least(id, min(peer)) AS component FROM reach GROUP BY id)
         SELECT component AS keep_id, count(*) AS n_members,
                string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
         FROM labeled GROUP BY component ORDER BY keep_id""",
    // q56 runs the SAME pipeline as q41 with the star-contraction clustering —
    // the oracle is the identical transitive closure, proving the two
    // clustering algorithms agree with graph-theoretic ground truth.
    "q56_clusters_star" ->
      s"""WITH RECURSIVE
         ws AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT doc_id, ${duckShingles(2)} AS s FROM ws),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.8),
         sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         reach(id, peer) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.id, s.b FROM reach r JOIN sym s ON r.peer = s.a),
         labeled AS (
           SELECT id, least(id, min(peer)) AS component FROM reach GROUP BY id)
         SELECT component AS keep_id, count(*) AS n_members,
                string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
         FROM labeled GROUP BY component ORDER BY keep_id""",
    // The incremental merge path must equal the FULL-corpus ground truth —
    // the oracle is deliberately the same quadratic closure as q41/q56
    // (old×old, new×old, and new×new pairs all present), so any incremental
    // bookkeeping error (a stale label surviving takeover, a missed bridge
    // merge, a dropped new×new pair) lands as a hash mismatch.
    "q139_incremental_clusters" ->
      s"""WITH RECURSIVE
         ws AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT doc_id, ${duckShingles(2)} AS s FROM ws),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.8),
         sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         reach(id, peer) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.id, s.b FROM reach r JOIN sym s ON r.peer = s.a),
         labeled AS (
           SELECT id, least(id, min(peer)) AS component FROM reach GROUP BY id)
         SELECT component AS keep_id, count(*) AS n_members,
                string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
         FROM labeled GROUP BY component ORDER BY keep_id""",

    // Same census-CDF as q133, then tertile buckets + rollup. NULLIF guards
    // the zero-token doc identically to Spark's null-on-div-zero + the
    // quantileNormalize null-exclusion contract.
    "q140_quality_tertiles" ->
      """WITH base AS (SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                 AS n_distinct
             FROM documents),
         scored AS (SELECT doc_id, lang, n_tokens,
               (1000 * n_distinct) // NULLIF(n_tokens, 0) AS ttr_pm
             FROM base),
         clean AS (SELECT * FROM scored WHERE lang IS NOT NULL AND ttr_pm IS NOT NULL),
         census AS (SELECT lang, ttr_pm, CAST(count(*) AS BIGINT) AS cnt
                    FROM clean GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM census GROUP BY 1),
         cdf AS (SELECT c.lang, c.ttr_pm,
               (1000000 * CAST(sum(c.cnt) OVER (PARTITION BY c.lang
                  ORDER BY c.ttr_pm ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS BIGINT)) // t.n AS cdf_ppm
             FROM census c JOIN tot t USING (lang)),
         bucketed AS (
           SELECT s.lang, s.n_tokens, s.ttr_pm,
                  CASE WHEN d.cdf_ppm <= 333333 THEN 'tail'
                       WHEN d.cdf_ppm <= 666666 THEN 'middle'
                       ELSE 'head' END AS bucket
           FROM clean s JOIN cdf d ON s.lang = d.lang AND s.ttr_pm = d.ttr_pm)
         SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                min(ttr_pm) AS min_ttr_pm, max(ttr_pm) AS max_ttr_pm
         FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket""",

    // Same failing-class rule as q128, applied: DuckDB's ANTI JOIN is the
    // suppression; positive-operand div keeps the permille engine-exact.
    "q144_k_anonymity_release" ->
      """WITH g AS (SELECT event_id, event_type,
               CAST(extract(hour FROM ts) AS INT) AS hh,
               CAST(floor(value / 10) AS BIGINT) AS vbucket, user_id
             FROM events),
         fail AS (SELECT event_type, hh, vbucket FROM g GROUP BY 1, 2, 3
                  HAVING count(*) < 5 OR count(DISTINCT user_id) < 3),
         -- null-safe per QI column, matching kAnonymitySuppress's <=> join
         -- (a NULL-keyed failing class must suppress, not leak)
         rel AS (SELECT g.* FROM g ANTI JOIN fail f
                 ON g.event_type IS NOT DISTINCT FROM f.event_type
                 AND g.hh IS NOT DISTINCT FROM f.hh
                 AND g.vbucket IS NOT DISTINCT FROM f.vbucket),
         inp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_input
                 FROM g GROUP BY 1),
         r AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_released
               FROM rel GROUP BY 1)
         SELECT i.event_type, i.n_input,
                coalesce(r.n_released, 0) AS n_released,
                i.n_input - coalesce(r.n_released, 0) AS n_suppressed,
                (1000 * (i.n_input - coalesce(r.n_released, 0))) // i.n_input
                  AS suppressed_pm
         FROM inp i LEFT JOIN r USING (event_type) ORDER BY event_type""",

    // Snapshot-weighted new×old probe: df, the prune denominator, and every
    // weight come from the OLD half only — the persisted-index contract
    // rebuilt relationally.
    "q145_postings_probe" ->
      """WITH t AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
                    FROM documents WHERE doc_id % 10 = 0),
         m AS (SELECT (max(id) + 1) // 2 AS half FROM t),
         old_t AS (SELECT * FROM t WHERE id < (SELECT half FROM m)),
         new_t AS (SELECT * FROM t WHERE id >= (SELECT half FROM m)),
         otf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM old_t GROUP BY 1, 2),
         odf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM otf GROUP BY 1),
         ond AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_docs FROM old_t),
         opost AS (SELECT id, term, (1000 * tf) // df AS wt, df
                   FROM otf JOIN odf USING (term), ond
                   WHERE df * 2 <= ond.n_docs AND (1000 * tf) // df > 0),
         ntf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM new_t GROUP BY 1, 2),
         npost AS (SELECT ntf.id, ntf.term, (1000 * tf) // d.df AS wt
                   FROM ntf JOIN (SELECT DISTINCT term, df FROM opost) d USING (term)
                   WHERE (1000 * tf) // d.df > 0),
         onorm AS (SELECT id,
                     CAST(floor(sqrt(CAST(sum(wt * wt) AS BIGINT)::DOUBLE)) AS BIGINT) AS nrm
                   FROM opost GROUP BY 1),
         nnorm AS (SELECT id,
                     CAST(floor(sqrt(CAST(sum(wt * wt) AS BIGINT)::DOUBLE)) AS BIGINT) AS nrm
                   FROM npost GROUP BY 1),
         pairs AS (SELECT n.id AS a, o.id AS b,
                     CAST(sum(n.wt * o.wt) AS BIGINT) AS dot,
                     CAST(count(*) AS BIGINT) AS n_shared
                   FROM npost n JOIN opost o ON n.term = o.term GROUP BY 1, 2)
         SELECT p.a, p.b, n_shared,
                (1000000 * dot) // (na.nrm * nb.nrm) AS cos_ppm
         FROM pairs p JOIN nnorm na ON p.a = na.id JOIN onorm nb ON p.b = nb.id
         WHERE (1000000 * dot) // (na.nrm * nb.nrm) >= 300000
         ORDER BY a, b""",

    // Same derived v2 snapshot; DuckDB's md5 and full outer join reproduce
    // the classification bit-for-bit.
    "q143_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id AS id, md5(text) AS h1,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS t1
             FROM documents),
         v2 AS (SELECT
               CASE WHEN doc_id % 17 = 0 THEN doc_id + 100000 ELSE doc_id END AS id,
               md5(CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) AS h2,
               CAST(len(string_split(text, ' ')) +
                    CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS BIGINT) AS t2
             FROM documents WHERE doc_id % 11 != 0),
         j AS (SELECT CASE WHEN h1 IS NULL THEN 'added'
                           WHEN h2 IS NULL THEN 'removed'
                           WHEN h1 != h2 THEN 'modified'
                           ELSE 'unchanged' END AS status,
                      coalesce(t1, 0) AS t1, coalesce(t2, 0) AS t2
               FROM v1 FULL OUTER JOIN v2 USING (id))
         SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(t1) AS BIGINT) AS tokens_v1,
                CAST(sum(t2) AS BIGINT) AS tokens_v2,
                CAST(sum(t2 - t1) AS BIGINT) AS token_delta
         FROM j GROUP BY status ORDER BY status""",

    // The streaming code path must reproduce q124's values: same unit
    // split, census gate, and ordered reassembly — docs producing no units
    // would drop stream-side (none exist in this corpus), everything else
    // is value-identical, so the oracle keeps the LEFT-join restore shape.
    "q142_streaming_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         u AS MATERIALIZED (
           SELECT doc_id, s AS st,
                  array_to_string(ws[s+1 : least(s + 5, len(ws))], ' ') AS seg
           FROM t, UNNEST(range(0, len(ws), 5)) AS v(s)),
         hot AS (SELECT md5(seg) AS dg FROM u GROUP BY 1 HAVING count(*) >= 2),
         kept AS (SELECT doc_id, st, seg FROM u
                  WHERE md5(seg) NOT IN (SELECT dg FROM hot)),
         reb AS (SELECT doc_id,
                   CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_kept,
                   string_agg(seg, ' ' ORDER BY st) AS clean
                 FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
                coalesce(r.n_kept, 0) AS n_kept,
                md5(coalesce(r.clean, '')) AS clean_md5
         FROM t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id""",

    // One quadratic exact pair table at the loosest gate, re-filtered per
    // threshold — the oracle twin of the verify-once/gate-many sweep.
    "q141_dedup_savings" -> {
      def sweepRow(t: String): String =
        s"""SELECT CAST($t AS DOUBLE) AS theta,
             (SELECT CAST(count(*) AS BIGINT) FROM p WHERE jac >= $t) AS n_pairs,
             (SELECT CAST(count(DISTINCT x) AS BIGINT) FROM (
                SELECT a AS x FROM p WHERE jac >= $t
                UNION ALL SELECT b FROM p WHERE jac >= $t)) AS n_docs"""
      s"""${withDocShingles(2, "doc_id % 3 = 0")},
         p AS (
           SELECT a.doc_id AS a, b.doc_id AS b, $duckJac AS jac
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.5)
         SELECT * FROM (
           ${sweepRow("0.5")}
           UNION ALL ${sweepRow("0.7")}
           UNION ALL ${sweepRow("0.9")})
         ORDER BY theta"""
    },

    // Gaps-and-islands twin of session_window: a session breaks exactly when
    // the inter-event gap is >= 30 min (session_window covers
    // [first, last+gap) and merges iff the next event starts strictly before
    // the window end). Micros on both sides: Spark floors nanos via `div
    // 1000` (Tables.events), the oracle via epoch_ns // 1000.
    "q40_sessionize" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
         m AS (SELECT user_id, us, value,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                      >= 1800000000 THEN 1 ELSE 0 END AS brk
               FROM ev),
         s AS (SELECT user_id, us, value,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
               FROM m)
         SELECT min(us) AS sess_us, user_id, count(*) AS n_events,
                round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, sess_us""",
    "q42_stratified_sample" ->
      """SELECT source, sample_rank, doc_id FROM (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5('s42:' || CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
           FROM documents)
         WHERE sample_rank <= 25 ORDER BY source, sample_rank""",
    "q43_corpus_shuffle" ->
      """SELECT doc_id, md5('epoch-0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
         FROM documents ORDER BY shuffle_key""",
    "q57_sample_bounded" ->
      s"""SELECT source, sample_rank, doc_id FROM (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                    ORDER BY ${duckHash60("'s57:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS sample_rank
           FROM documents)
         WHERE sample_rank <= 25 ORDER BY source, sample_rank""",
    "q44_decontaminate" ->
      s"""${withDocShingles(5, "TRUE")},
         bgrams AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 97 = 0),
         posts AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         cont AS (SELECT DISTINCT posts.doc_id FROM posts JOIN bgrams USING (gram))
         SELECT doc_id FROM documents
         WHERE doc_id % 97 != 0 AND doc_id NOT IN (SELECT doc_id FROM cont)
         ORDER BY doc_id""",

    // Same distinct-gram census and broadcast probe, re-derived with a left
    // join + conditional count; permille via integer //.
    "q146_contamination_report" ->
      s"""${withDocShingles(5, "TRUE")},
         bgrams AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 7 = 0),
         posts AS (SELECT DISTINCT doc_id, unnest(s) AS gram FROM sh
                   WHERE doc_id % 7 != 0),
         agg AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_hit
                 FROM posts p LEFT JOIN bgrams b USING (gram) GROUP BY 1)
         SELECT doc_id, n_grams, n_hit, (1000 * n_hit) // n_grams AS overlap_pm
         FROM agg WHERE n_hit > 0 ORDER BY doc_id""",

    // Char census by (doc, char) group-by where Spark folds a sorted array —
    // Σ cnt² and the run-length islands are exact integers either way, and
    // the fixed-point ratios are single integer divisions (the same ×1e6/×1e3
    // idiom) — no float, no libm, engine-exact by construction. The final
    // LEFT JOINs keep empty/NULL-text docs in the output (len 0, NULL
    // ratios) — the operator's documented contract — where an inner join
    // would silently drop them with the position CTE.
    "q147_char_diversity" ->
      """WITH docs0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         pos AS (SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS i
                 FROM docs0),
         cc AS (SELECT doc_id, i, substr(text, i, 1) AS c FROM pos),
         cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
                 FROM cc GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                   CAST(sum(n) AS BIGINT) AS len,
                   CAST(count(*) AS BIGINT) AS nd,
                   CAST(sum(n * n) AS BIGINT) AS s2,
                   CAST(coalesce(sum(CASE WHEN c IN (' ', chr(9), chr(10),
                     chr(13)) THEN n END), 0) AS BIGINT) AS nsp
                 FROM cnt GROUP BY 1),
         runs AS (SELECT doc_id, CAST(max(rl) AS BIGINT) AS max_run FROM (
                    SELECT doc_id, c, grp, CAST(count(*) AS BIGINT) AS rl
                    FROM (SELECT doc_id, c, i,
                            i - row_number() OVER (PARTITION BY doc_id, c
                                                   ORDER BY i) AS grp
                          FROM cc)
                    GROUP BY doc_id, c, grp)
                  GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(a.len, 0) AS n_chars,
                coalesce(a.nd, 0) AS n_distinct_chars,
                CASE WHEN a.len > 0
                  THEN (1000000 * a.s2) // (a.len * a.len) END AS collision_ppm,
                CASE WHEN a.len > 0
                  THEN (1000 * a.len * a.len) // a.s2 END AS eff_alpha_fp,
                coalesce(r.max_run, 0) AS max_run,
                CASE WHEN a.len > 0
                  THEN (1000000 * a.nsp) // a.len END AS ws_ppm
         FROM docs0 d
         LEFT JOIN agg a USING (doc_id)
         LEFT JOIN runs r USING (doc_id)
         ORDER BY d.doc_id""",

    // The q35 scored/ranked CTEs twice — full lists and the [1:16] prefix
    // slice — then pure integer joins: the true top-1's truncated rank and
    // the top-10 intersection size. Same fold-order cosine, same
    // (cos DESC, id ASC) tie-break as every kNN oracle. BOTH sides carry
    // the operator's undefined-cosine contract: a zero-norm vector's
    // cosine (NaN, or DuckDB's NULL on 0/0) scores −1 — nullif exploits
    // DuckDB's total float ordering, under which NaN equals NaN.
    "q148_truncation_recall" -> {
      def guarded(cosExpr: String) =
        s"coalesce(nullif($cosExpr, 'NaN'::DOUBLE), -1.0)"
      def ranked(cosExpr: String) =
        s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY ${guarded(cosExpr)} DESC, c.vec_id ASC) AS rank
            FROM c JOIN q ON c.vec_id != q.vec_id"""
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (${duckBoundedQ("q148", "c")}),
              rf AS (${ranked(duckCos("c.v", "q.v"))}),
              rt AS (${ranked(duckCos("c.v[1:16]", "q.v[1:16]"))}),
              f10 AS (SELECT * FROM rf WHERE rank <= 10),
              t10 AS (SELECT * FROM rt WHERE rank <= 10),
              ov AS (SELECT query_id, CAST(count(*) AS BIGINT) AS overlap_k
                     FROM f10 JOIN t10 USING (query_id, neighbor_id)
                     GROUP BY 1),
              top1 AS (SELECT query_id, neighbor_id AS full_top1
                       FROM rf WHERE rank = 1)
         SELECT top1.query_id, top1.full_top1, t10.rank AS trunc_rank,
                coalesce(ov.overlap_k, 0) AS overlap_k
         FROM top1
         LEFT JOIN t10 ON top1.query_id = t10.query_id
                      AND top1.full_top1 = t10.neighbor_id
         LEFT JOIN ov ON top1.query_id = ov.query_id
         ORDER BY top1.query_id"""
    },

    // The same md5-derived 5-annotator labeling (hex-cast idiom ≡ Spark's
    // conv), then: pair join + the identical ‰-quantized-marginal pe and
    // floor-division kappa (DuckDB's // floors natively; Spark matches via
    // the pmod identity).
    "q149_annotator_agreement" -> {
      def sums(side: Int) = (0 until 3).map(c =>
        s"CAST(sum(CASE WHEN l$side = $c THEN 1 ELSE 0 END) AS BIGINT) AS c${side}_$c")
        .mkString(", ")
      val pe = (0 until 3).map(c =>
        s"(((1000 * c1_$c) // n_items) * ((1000 * c2_$c) // n_items))")
        .mkString(" + ")
      s"""$duckAnnCte,
         x AS (SELECT item, annotator AS a1, label AS l1 FROM ann),
         y AS (SELECT item, annotator AS a2, label AS l2 FROM ann),
         g AS (SELECT a1, a2, CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS BIGINT) AS agree,
                 ${sums(1)}, ${sums(2)}
               FROM x JOIN y USING (item) WHERE a1 < a2 GROUP BY 1, 2),
         r AS (SELECT a1, a2, n_items, agree,
                 (1000000 * agree) // n_items AS po_ppm,
                 $pe AS pe_ppm
               FROM g)
         SELECT a1, a2, n_items, agree, po_ppm, pe_ppm,
                CASE WHEN 1000000 - pe_ppm != 0
                  THEN (1000 * (po_ppm - pe_ppm)) // (1000000 - pe_ppm)
                END AS kappa_pm
         FROM r ORDER BY a1, a2"""
    },

    // Same labels → per-(item, label) vote census → the window-ranked
    // argmax with the shared (votes desc, label asc) tie-break.
    "q150_label_consolidation" ->
      s"""$duckAnnCte,
         votes AS (SELECT item, label, CAST(count(*) AS BIGINT) AS v
                   FROM ann GROUP BY 1, 2),
         ranked AS (SELECT item, label, v,
                      row_number() OVER (PARTITION BY item
                                         ORDER BY v DESC, label ASC) AS rn,
                      CAST(sum(v) OVER (PARTITION BY item) AS BIGINT) AS n_votes
                    FROM votes)
         SELECT item AS doc_id, n_votes, label AS top_label, v AS top_votes,
                v = n_votes AS unanimous
         FROM ranked WHERE rn = 1 ORDER BY doc_id""",

    // Same labels → the classic Fleiss algebra in exact integers: cell
    // census, per-item Σ n_ic², drop non-5-rating items, ‰-quantized class
    // masses, floor-division kappa (// floors natively).
    "q151_fleiss_kappa" ->
      s"""$duckAnnCte,
         cell AS (SELECT item, label, CAST(count(*) AS BIGINT) AS nic
                  FROM ann GROUP BY 1, 2),
         items AS (SELECT item, CAST(sum(nic) AS BIGINT) AS n,
                     CAST(sum(nic * nic) AS BIGINT) AS s2i
                   FROM cell GROUP BY 1),
         kept AS (SELECT * FROM items WHERE n = 5),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                   CAST(sum(s2i) AS BIGINT) AS s2 FROM kept),
         drp AS (SELECT CAST(coalesce(sum(CASE WHEN n != 5 THEN 1 END), 0)
                   AS BIGINT) AS n_dropped FROM items),
         cm AS (SELECT c.label, CAST(sum(c.nic) AS BIGINT) AS cnt
                FROM cell c JOIN kept k USING (item) GROUP BY 1),
         pe AS (SELECT CAST(sum(((1000 * cnt) // (t.n_items * 5)) *
                  ((1000 * cnt) // (t.n_items * 5))) AS BIGINT) AS pe_ppm
                FROM cm, tot t),
         r AS (SELECT t.n_items, d.n_dropped,
                 CASE WHEN t.n_items > 0 THEN
                   (1000000 * (t.s2 - t.n_items * 5)) // (t.n_items * 5 * 4)
                 END AS pbar_ppm,
                 p.pe_ppm
               FROM tot t, drp d, pe p)
         SELECT n_items, n_dropped, pbar_ppm, pe_ppm,
                CASE WHEN 1000000 - pe_ppm != 0
                  THEN (1000 * (pbar_ppm - pe_ppm)) // (1000000 - pe_ppm)
                END AS kappa_pm
         FROM r""",

    // Same labels → the q150 consensus CTE joined back per annotation,
    // cell counts + annotator-relative share via integer //.
    "q152_annotator_confusion" ->
      s"""$duckAnnCte,
         votes AS (SELECT item, label, CAST(count(*) AS BIGINT) AS v
                   FROM ann GROUP BY 1, 2),
         cons AS (SELECT item, label AS consensus_label FROM (
                    SELECT item, label,
                      row_number() OVER (PARTITION BY item
                                         ORDER BY v DESC, label ASC) AS rn
                    FROM votes)
                  WHERE rn = 1),
         cells AS (SELECT a.annotator, a.label, c.consensus_label,
                     CAST(count(*) AS BIGINT) AS n
                   FROM ann a JOIN cons c USING (item) GROUP BY 1, 2, 3),
         tots AS (SELECT annotator, CAST(sum(n) AS BIGINT) AS n_ann
                  FROM cells GROUP BY 1)
         SELECT c.annotator, c.label, c.consensus_label, c.n,
                (1000000 * c.n) // t.n_ann AS share_ppm
         FROM cells c JOIN tots t USING (annotator)
         ORDER BY c.annotator, c.label, c.consensus_label""",

    // Same labels minus the md5 skip roll → the identical LCM-scaled
    // coincidence algebra: ×12 pair weights, ‰-quantized margins with the
    // (n_c − W)/(n − W) small-sample correction, floor-division alpha.
    "q153_krippendorff_alpha" ->
      s"""$duckAnnCte,
         sp AS (SELECT * FROM ann
                WHERE CAST(concat('0x', substr(md5('skip' || CAST(annotator AS VARCHAR) || ':' || CAST(item AS VARCHAR)), 1, 4)) AS INT) % 6 != annotator),
         cell AS (SELECT item, label, CAST(count(*) AS BIGINT) AS t
                  FROM sp GROUP BY 1, 2),
         items AS (SELECT item, CAST(sum(t) AS BIGINT) AS m,
                     CAST(sum(t * (t - 1)) AS BIGINT) AS sraw
                   FROM cell GROUP BY 1),
         kept AS (SELECT * FROM items WHERE m BETWEEN 2 AND 5),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                   CAST(coalesce(sum((12 // (m - 1)) * sraw), 0) AS BIGINT) AS sagree,
                   CAST(coalesce(sum(m * 12), 0) AS BIGINT) AS n
                 FROM kept),
         drp AS (SELECT CAST(coalesce(sum(CASE WHEN m < 2 OR m > 5 THEN 1 END), 0)
                   AS BIGINT) AS n_dropped FROM items),
         cm AS (SELECT label, CAST(sum(t) * 12 AS BIGINT) AS nc
                FROM cell JOIN kept USING (item) GROUP BY 1),
         ae AS (SELECT CAST(sum(((1000 * nc) // t.n) *
                  ((1000 * (nc - 12)) // (t.n - 12))) AS BIGINT) AS a_e_ppm
                FROM cm, tot t),
         r AS (SELECT t.n_items, d.n_dropped,
                 CASE WHEN t.n > 0
                   THEN (1000000 * t.sagree) // t.n END AS a_o_ppm,
                 a.a_e_ppm
               FROM tot t, drp d, ae a)
         SELECT n_items, n_dropped, a_o_ppm, a_e_ppm,
                CASE WHEN 1000000 - a_e_ppm != 0
                  THEN (1000 * (a_o_ppm - a_e_ppm)) // (1000000 - a_e_ppm)
                END AS alpha_pm
         FROM r""",

    // The q35 run CTE (same double cosine, same rank tie-break) scored
    // against same-label relevance. The rank-discount weights are the SAME
    // driver-computed ×1e6 integers the Spark plan embeds
    // (Retrieval.dcgWeightFp) — DuckDB never calls its own log2 — so
    // every metric is engine-identical integer arithmetic.
    "q154_retrieval_metrics" -> {
      val wCase = (1 to 10)
        .map(r => s"WHEN $r THEN ${Retrieval.dcgWeightFp(r)}").mkString(" ")
      val cumCase = Retrieval.idcgWeightsFp(10).zipWithIndex
        .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }.mkString(" ")
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           q AS (${duckBoundedQ("q154", "c")}),
           scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        ${duckCos("c.v", "q.v")} AS cos
                      FROM c JOIN q ON c.vec_id != q.vec_id),
           run AS (SELECT query_id, neighbor_id, rank FROM (
                     SELECT query_id, neighbor_id,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY cos DESC, neighbor_id ASC) AS rank
                     FROM scored) WHERE rank <= 10),
           lab AS (SELECT vec_id AS id, label FROM embeddings),
           census AS (SELECT label, CAST(count(*) AS BIGINT) AS class_n
                      FROM lab GROUP BY 1),
           qmeta AS (SELECT q.vec_id AS query_id, l.label AS q_label,
                       cn.class_n - 1 AS n_rel
                     FROM q JOIN lab l ON q.vec_id = l.id
                            JOIN census cn ON l.label = cn.label),
           rel AS (SELECT r.query_id, m.n_rel, r.rank,
                     nl.label = m.q_label AS is_rel
                   FROM run r JOIN lab nl ON r.neighbor_id = nl.id
                              JOIN qmeta m ON r.query_id = m.query_id),
           agg AS (SELECT query_id, n_rel,
                     CAST(sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_topk,
                     min(CASE WHEN is_rel THEN rank END) AS first_rel_rank,
                     CAST(coalesce(sum(CASE WHEN is_rel
                       THEN CASE rank $wCase END END), 0) AS BIGINT) AS dcg_fp
                   FROM rel GROUP BY 1, 2),
           fin AS (SELECT query_id, n_rel, n_rel_topk, first_rel_rank,
                     CASE WHEN first_rel_rank IS NOT NULL
                       THEN 1000000 // first_rel_rank END AS mrr_ppm,
                     dcg_fp,
                     CASE WHEN n_rel > 0
                       THEN CASE least(n_rel, 10) $cumCase END END AS idcg_fp
                   FROM agg)
         SELECT query_id, n_rel, n_rel_topk, first_rel_rank, mrr_ppm, dcg_fp,
                idcg_fp,
                CASE WHEN idcg_fp > 0 THEN (1000 * dcg_fp) // idcg_fp END AS ndcg_pm,
                CASE WHEN n_rel > 0 THEN (1000 * n_rel_topk) // n_rel END AS recall_pm
         FROM fin ORDER BY query_id"""
    },

    // The same md5-derived duels (participation roll + strength-biased
    // winner roll), then the identical quantized-isqrt Wilson algebra:
    // floor(sqrt(double)) is IEEE-deterministic in both engines, and the
    // numerators are non-negative so // and div agree.
    "q155_pairwise_winrate" -> {
      val duelMd5 =
        "md5('duel' || CAST(p.ma AS VARCHAR) || ':' || CAST(p.mb AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))"
      s"""WITH pairs AS (SELECT a.ma, b.mb
                 FROM (SELECT unnest(generate_series(0, 3)) AS ma) a,
                      (SELECT unnest(generate_series(1, 4)) AS mb) b
                 WHERE b.mb > a.ma),
           duels AS (SELECT d.doc_id AS item, p.ma AS model_a, p.mb AS model_b,
                       CASE WHEN CAST(concat('0x', substr($duelMd5, 5, 4)) AS INT)
                              % (20 - p.ma - p.mb) < 10 - p.ma
                            THEN p.ma ELSE p.mb END AS winner
                     FROM documents d, pairs p
                     WHERE CAST(concat('0x', substr($duelMd5, 1, 4)) AS INT) % 4 = 0),
           g AS (SELECT least(model_a, model_b) AS model_lo,
                   greatest(model_a, model_b) AS model_hi,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN winner = least(model_a, model_b)
                     THEN 1 ELSE 0 END) AS BIGINT) AS wins_lo
                 FROM duels GROUP BY 1, 2),
           y AS (SELECT model_lo, model_hi, n, wins_lo,
                   (1000 * wins_lo) // n AS win_pm,
                   (wins_lo * (n - wins_lo)) // n + 1 AS y
                 FROM g)
         SELECT model_lo, model_hi, n, wins_lo, win_pm,
                (1000 * (wins_lo + 2) - 2 * CAST(floor(sqrt(CAST(1000000 * y AS DOUBLE))) AS BIGINT)) // (n + 4) AS wilson_lb_pm,
                (1000 * (wins_lo + 2) + 2 * CAST(floor(sqrt(CAST(1000000 * y AS DOUBLE))) AS BIGINT)) // (n + 4) AS wilson_ub_pm
         FROM y ORDER BY model_lo, model_hi"""
    },

    // Two EM rounds unrolled in SQL: majority-vote init, then per round
    // the ‰-quantized smoothed confusion/prior M-step and the
    // integer-product E-step (product() over ≤5 factors ≤1000 is ≤1e15 —
    // exact in DOUBLE — then BIGINT × prior). Same argmax tie-break
    // (score DESC, class ASC) as Spark's max(struct).
    "q156_dawid_skene" -> {
      def round(i: Int, prev: String) = s"""
           cells$i AS (SELECT a.annotator, p.lab AS c, a.label AS g,
                         CAST(count(*) AS BIGINT) AS n
                       FROM ann a JOIN $prev p USING (item) GROUP BY 1, 2, 3),
           nac$i AS (SELECT annotator, c, CAST(sum(n) AS BIGINT) AS n_ac
                     FROM cells$i GROUP BY 1, 2),
           theta$i AS (SELECT gr.annotator, gr.c, gr.g,
                         (1000 * (coalesce(ce.n, 0) + 1)) // (coalesce(na.n_ac, 0) + 3) AS theta_pm
                       FROM grid gr
                       LEFT JOIN cells$i ce ON gr.annotator = ce.annotator
                         AND gr.c = ce.c AND gr.g = ce.g
                       LEFT JOIN nac$i na ON gr.annotator = na.annotator
                         AND gr.c = na.c),
           tot$i AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM $prev),
           pc$i AS (SELECT lab AS c, CAST(count(*) AS BIGINT) AS cnt
                    FROM $prev GROUP BY 1),
           prior$i AS (SELECT cls.c, (1000 * (coalesce(pc.cnt, 0) + 1)) // (t.nn + 3) AS prior_pm
                       FROM cls LEFT JOIN pc$i pc ON cls.c = pc.c, tot$i t),
           score$i AS (SELECT f.item, f.c,
                         CAST(product(f.theta_pm) AS BIGINT) * max(p.prior_pm) AS score
                       FROM (SELECT a.item, t.c, t.theta_pm
                             FROM ann a JOIN theta$i t ON a.annotator = t.annotator
                               AND a.label = t.g) f
                       JOIN prior$i p ON f.c = p.c
                       GROUP BY 1, 2),
           lab$i AS (SELECT item, c AS lab FROM (
                       SELECT item, c, row_number() OVER (PARTITION BY item
                         ORDER BY score DESC, c ASC) AS rn
                       FROM score$i) WHERE rn = 1)"""
      s"""$duckAnnCte,
           votes AS (SELECT item, label, CAST(count(*) AS BIGINT) AS v
                     FROM ann GROUP BY 1, 2),
           lab0 AS (SELECT item, label AS lab FROM (
                      SELECT item, label, row_number() OVER (PARTITION BY item
                        ORDER BY v DESC, label ASC) AS rn
                      FROM votes) WHERE rn = 1),
           cls AS (SELECT unnest(generate_series(0, 2)) AS c),
           grid AS (SELECT an.annotator, c1.c, c2.c AS g
                    FROM (SELECT DISTINCT annotator FROM ann) an,
                         (SELECT unnest(generate_series(0, 2)) AS c) c1,
                         (SELECT unnest(generate_series(0, 2)) AS c) c2),
           ${round(1, "lab0")},
           ${round(2, "lab1")}
         SELECT l0.item AS doc_id, l0.lab AS mv_label, l2.lab AS ds_label,
                l0.lab != l2.lab AS changed
         FROM lab0 l0 JOIN lab2 l2 USING (item) ORDER BY doc_id"""
    },

    // Both runs rebuilt in SQL (the q154 brute-force CTEs + the q36
    // signature-bucket CTEs at k=10), each scored by the SAME
    // driver-computed ×1e6 DCG weights, joined per query into the deltas.
    "q157_ann_scorecard" -> {
      val wCase = (1 to 10)
        .map(r => s"WHEN $r THEN ${Retrieval.dcgWeightFp(r)}").mkString(" ")
      val cumCase = Retrieval.idcgWeightsFp(10).zipWithIndex
        .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }.mkString(" ")
      def metrics(runCte: String, p: String) = s"""
           rel_$p AS (SELECT r.query_id, m.n_rel, r.rank,
                        nl.label = m.q_label AS is_rel
                      FROM $runCte r JOIN lab nl ON r.neighbor_id = nl.id
                                     JOIN qmeta m ON r.query_id = m.query_id),
           agg_$p AS (SELECT query_id, n_rel,
                        CAST(sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_topk,
                        min(CASE WHEN is_rel THEN rank END) AS first_rel_rank,
                        CAST(coalesce(sum(CASE WHEN is_rel
                          THEN CASE rank $wCase END END), 0) AS BIGINT) AS dcg_fp
                      FROM rel_$p GROUP BY 1, 2),
           met_$p AS (SELECT query_id, n_rel,
                        CASE WHEN first_rel_rank IS NOT NULL
                          THEN 1000000 // first_rel_rank END AS mrr_ppm,
                        CASE WHEN n_rel > 0 AND (CASE least(n_rel, 10) $cumCase END) > 0
                          THEN (1000 * dcg_fp) // (CASE least(n_rel, 10) $cumCase END) END AS ndcg_pm,
                        CASE WHEN n_rel > 0
                          THEN (1000 * n_rel_topk) // n_rel END AS recall_pm
                      FROM agg_$p)"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           q AS (${duckBoundedQ("q157", "e")}),
           scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        ${duckCos("c.v", "q.v")} AS cos
                      FROM e c JOIN q ON c.vec_id != q.vec_id),
           run_exact AS (SELECT query_id, neighbor_id, rank FROM (
                           SELECT query_id, neighbor_id,
                                  row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rank
                           FROM scored) WHERE rank <= 10),
           sigs AS (
             SELECT vec_id, v,
               CAST(list_reduce(list_concat([0::BIGINT], list_transform(range(0, 8), j ->
                 CASE WHEN list_reduce(list_transform(range(0, 64), i ->
                             v[i+1] * (CASE WHEN CAST(concat('0x', substr(md5(concat(j, ':', i)), 32, 1)) AS INT) % 2 = 1
                                       THEN 1.0 ELSE -1.0 END)),
                           (x, y) -> x + y) > 0
                 THEN (1::BIGINT << j) ELSE 0::BIGINT END)), (x, y) -> x + y) AS BIGINT) AS sig
             FROM e),
           probes AS (
             SELECT query_id, qv, UNNEST(allsigs) AS sig FROM (
               SELECT vec_id AS query_id, v AS qv,
                      list_concat([sig], list_transform(range(0, 8), b -> xor(sig, 1::BIGINT << b))) AS allsigs
               FROM sigs WHERE vec_id IN (SELECT vec_id FROM q))),
           cand AS (
             SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id, ${duckCos("c.v", "p.qv")} AS cos
             FROM sigs c JOIN probes p ON c.sig = p.sig
             WHERE c.vec_id != p.query_id),
           run_ann AS (SELECT query_id, neighbor_id, rank FROM (
                         SELECT query_id, neighbor_id,
                                row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
                         FROM cand) WHERE rank <= 10),
           lab AS (SELECT vec_id AS id, label FROM embeddings),
           census AS (SELECT label, CAST(count(*) AS BIGINT) AS class_n
                      FROM lab GROUP BY 1),
           qmeta AS (SELECT q.vec_id AS query_id, l.label AS q_label,
                       cn.class_n - 1 AS n_rel
                     FROM q JOIN lab l ON q.vec_id = l.id
                            JOIN census cn ON l.label = cn.label),
           ${metrics("run_exact", "ex")},
           ${metrics("run_ann", "an")}
         SELECT x.query_id, x.n_rel,
                x.ndcg_pm AS exact_ndcg_pm, a.ndcg_pm AS ann_ndcg_pm,
                x.ndcg_pm - a.ndcg_pm AS ndcg_delta_pm,
                x.recall_pm AS exact_recall_pm, a.recall_pm AS ann_recall_pm,
                x.recall_pm - a.recall_pm AS recall_delta_pm,
                x.mrr_ppm AS exact_mrr_ppm, a.mrr_ppm AS ann_mrr_ppm
         FROM met_ex x LEFT JOIN met_an a ON x.query_id = a.query_id
         ORDER BY x.query_id"""
    },

    // The q155 duels, collapsed to the same models² census, then two MM
    // rounds unrolled — every update is positive-integer //, so DuckDB's
    // floor division and Spark's div agree bit for bit.
    "q158_bradley_terry" -> {
      val duelMd5 =
        "md5('duel' || CAST(p.ma AS VARCHAR) || ':' || CAST(p.mb AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))"
      def round(i: Int, prev: String) = s"""
           j$i AS (SELECT d.model, d.n, d.w, si.s_fp, so.s_fp AS s_opp
                   FROM dir d JOIN $prev si ON d.model = si.model
                              JOIN $prev so ON d.opp = so.model),
           r$i AS (SELECT model,
                     ((CAST(sum(w) AS BIGINT) + 1) * 1000000000000) //
                     (CAST(sum((n * 1000000000000) // (s_fp + s_opp)) AS BIGINT)
                      + 2000000000000 // (s_fp + 1000000)) AS raw
                   FROM j$i GROUP BY model, s_fp),
           t$i AS (SELECT CAST(sum(raw) AS BIGINT) AS t FROM r$i),
           s$i AS (SELECT model,
                     greatest(nm.c * ((raw * 1000000) // t), 1) AS s_fp
                   FROM r$i, t$i, nm)"""
      s"""WITH pairs AS (SELECT a.ma, b.mb
                 FROM (SELECT unnest(generate_series(0, 3)) AS ma) a,
                      (SELECT unnest(generate_series(1, 4)) AS mb) b
                 WHERE b.mb > a.ma),
           duels AS (SELECT d.doc_id AS item, p.ma AS model_a, p.mb AS model_b,
                       CASE WHEN CAST(concat('0x', substr($duelMd5, 5, 4)) AS INT)
                              % (20 - p.ma - p.mb) < 10 - p.ma
                            THEN p.ma ELSE p.mb END AS winner
                     FROM documents d, pairs p
                     WHERE CAST(concat('0x', substr($duelMd5, 1, 4)) AS INT) % 4 = 0),
           g AS (SELECT least(model_a, model_b) AS model_lo,
                   greatest(model_a, model_b) AS model_hi,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN winner = least(model_a, model_b)
                     THEN 1 ELSE 0 END) AS BIGINT) AS wins_lo
                 FROM duels GROUP BY 1, 2),
           dir AS (SELECT model_lo AS model, model_hi AS opp, n, wins_lo AS w FROM g
                   UNION ALL
                   SELECT model_hi, model_lo, n, n - wins_lo FROM g),
           tot AS (SELECT model, CAST(sum(n) AS BIGINT) AS games,
                     CAST(sum(w) AS BIGINT) AS wins
                   FROM dir GROUP BY 1),
           nm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM tot),
           s0 AS (SELECT model, 1000000::BIGINT AS s_fp FROM tot),
           ${round(1, "s0")},
           ${round(2, "s1")}
         SELECT t.model, t.games, t.wins, s2.s_fp AS strength_fp
         FROM tot t JOIN s2 ON t.model = s2.model
         ORDER BY strength_fp DESC, t.model"""
    },

    // The q153 sparse campaign through the quantized-distance algebra —
    // one per-metric block (e, eq = ‰ of max e, δ = eq², D_o, D_e), same
    // integer steps; // floors exactly like Spark's pmod identity.
    "q159_krippendorff_distance" -> {
      def block(m: String, eCte: String) = s"""
           we_$m AS ($eCte),
           em_$m AS (SELECT CAST(coalesce(max(e), 0) AS BIGINT) AS e_max FROM we_$m),
           dq_$m AS (SELECT c, k,
                       CASE WHEN em.e_max > 0
                         THEN ((1000 * w.e) // em.e_max) * ((1000 * w.e) // em.e_max)
                         ELSE 0 END AS d
                     FROM we_$m w, em_$m em),
           don_$m AS (SELECT CAST(coalesce(sum((12 // (kp.m - 1)) * dd.ddis), 0) AS BIGINT) AS do_num
                      FROM (SELECT x.item,
                              CAST(sum(2 * x.t * y.t * q.d) AS BIGINT) AS ddis
                            FROM kcell x JOIN kcell y ON x.item = y.item
                              AND x.label < y.label
                            JOIN dq_$m q ON x.label = q.c AND y.label = q.k
                            GROUP BY 1) dd JOIN kept kp ON dd.item = kp.item),
           de_$m AS (SELECT CAST(coalesce(sum(CASE WHEN t.n > 1
                       THEN (((1000 * a.nc) // t.n) * ((1000 * b.nc) // (t.n - 1))
                           + ((1000 * b.nc) // t.n) * ((1000 * a.nc) // (t.n - 1))) * q.d
                       ELSE 0 END), 0) AS BIGINT) // 1000000 AS de_raw
                     FROM cm a JOIN cm b ON a.label < b.label
                     JOIN dq_$m q ON a.label = q.c AND b.label = q.k, tot t),
           row_$m AS (SELECT '$m' AS metric, t.n_items, dr.n_dropped,
                        CASE WHEN t.n > 0 THEN dn.do_num // (12 * t.n) END AS d_o_ppm,
                        de.de_raw AS d_e_ppm,
                        CASE WHEN de.de_raw > 0
                          THEN (1000 * (de.de_raw - (dn.do_num // (12 * t.n)))) // de.de_raw
                        END AS alpha_pm
                      FROM tot t, drp dr, don_$m dn, de_$m de)"""
      val eNominal =
        "SELECT a.label AS c, b.label AS k, 1::BIGINT AS e FROM cm a JOIN cm b ON a.label < b.label"
      val eInterval =
        "SELECT a.label AS c, b.label AS k, CAST(abs(b.label - a.label) AS BIGINT) AS e FROM cm a JOIN cm b ON a.label < b.label"
      val eOrdinal = """SELECT a.label AS c, b.label AS k,
                 CAST(2 * (SELECT sum(g.nc) FROM cm g
                           WHERE g.label BETWEEN a.label AND b.label)
                      - a.nc - b.nc AS BIGINT) AS e
               FROM cm a JOIN cm b ON a.label < b.label"""
      s"""$duckAnnCte,
           sp AS (SELECT * FROM ann
                  WHERE CAST(concat('0x', substr(md5('skip' || CAST(annotator AS VARCHAR) || ':' || CAST(item AS VARCHAR)), 1, 4)) AS INT) % 6 != annotator),
           cell AS (SELECT item, label, CAST(count(*) AS BIGINT) AS t
                    FROM sp GROUP BY 1, 2),
           items AS (SELECT item, CAST(sum(t) AS BIGINT) AS m FROM cell GROUP BY 1),
           kept AS (SELECT * FROM items WHERE m BETWEEN 2 AND 5),
           kcell AS (SELECT c.* FROM cell c JOIN kept USING (item)),
           cm AS (SELECT label, CAST(sum(t) AS BIGINT) AS nc
                  FROM kcell GROUP BY 1),
           tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                     CAST(coalesce(sum(m), 0) AS BIGINT) AS n FROM kept),
           drp AS (SELECT CAST(coalesce(sum(CASE WHEN m < 2 OR m > 5 THEN 1 END), 0)
                     AS BIGINT) AS n_dropped FROM items),
           ${block("nominal", eNominal)},
           ${block("interval", eInterval)},
           ${block("ordinal", eOrdinal)}
         SELECT * FROM row_nominal
         UNION ALL SELECT * FROM row_interval
         UNION ALL SELECT * FROM row_ordinal
         ORDER BY metric"""
    },

    // Same md5 word dropout (1-based DuckDB positions shifted to the
    // 0-based Spark transform index), same per-WORD hash60 + rotate-XOR
    // gram keys (duckGramKey — one md5 per word, not per gram, the r16
    // census-key rework), same clipped-multiset counts, same ×1e3 floor
    // divisions — n=1 and n=2 blocks union like the Spark side.
    "q160_rouge_eval" -> {
      def block(n: Int) = s"""
           ref_$n AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cr FROM (
                        SELECT id, ${duckGramKey("hr", "i", n)} AS g
                        FROM ph, unnest(range(1, len(hr) - $n + 2)) AS t(i))
                      GROUP BY 1, 2),
           cand_$n AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cc FROM (
                         SELECT id, ${duckGramKey("hc", "i", n)} AS g
                         FROM ph, unnest(range(1, len(hc) - $n + 2)) AS t(i))
                       GROUP BY 1, 2),
           ov_$n AS (SELECT id, CAST(sum(least(cr, cc)) AS BIGINT) AS overlap
                     FROM ref_$n JOIN cand_$n USING (id, g) GROUP BY 1),
           rt_$n AS (SELECT id, CAST(sum(cr) AS BIGINT) AS ref_grams
                     FROM ref_$n GROUP BY 1),
           ct_$n AS (SELECT id, CAST(sum(cc) AS BIGINT) AS cand_grams
                     FROM cand_$n GROUP BY 1),
           pr_$n AS (SELECT p.id, $n AS n,
                       coalesce(o.overlap, 0) AS overlap,
                       r.ref_grams, c.cand_grams,
                       CASE WHEN r.ref_grams IS NOT NULL
                         THEN (1000 * coalesce(o.overlap, 0)) // r.ref_grams END AS recall_pm,
                       CASE WHEN c.cand_grams IS NOT NULL
                         THEN (1000 * coalesce(o.overlap, 0)) // c.cand_grams END AS precision_pm
                     FROM pw p LEFT JOIN rt_$n r ON p.id = r.id
                               LEFT JOIN ct_$n c ON p.id = c.id
                               LEFT JOIN ov_$n o ON p.id = o.id),
           fin_$n AS (SELECT id, n, overlap, ref_grams, cand_grams,
                        recall_pm, precision_pm,
                        CASE WHEN recall_pm IS NOT NULL AND precision_pm IS NOT NULL
                          THEN CASE WHEN recall_pm + precision_pm > 0
                            THEN (2 * precision_pm * recall_pm) // (precision_pm + recall_pm)
                            ELSE 0 END END AS f1_pm
                      FROM pr_$n)"""
      s"""WITH base AS (SELECT doc_id AS id, text,
                          string_split(text, ' ') AS w FROM documents),
           p AS (SELECT id, text AS reference,
                   array_to_string(list_filter(list_transform(range(1, len(w) + 1), i ->
                     CASE WHEN CAST(concat('0x', substr(md5('drop' || CAST(id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 4)) AS INT) % 5 = 0
                          THEN NULL ELSE w[i] END), x -> x IS NOT NULL), ' ') AS candidate
                 FROM base),
           pw AS (SELECT id,
                    list_filter(string_split(reference, ' '), x -> x <> '') AS wr,
                    list_filter(string_split(candidate, ' '), x -> x <> '') AS wc
                  FROM p),
           ph AS (SELECT id,
                    list_transform(wr, x -> ${duckHash60("x")}) AS hr,
                    list_transform(wc, x -> ${duckHash60("x")}) AS hc
                  FROM pw),
           ${block(1)},
           ${block(2)}
         SELECT * FROM fin_1 UNION ALL SELECT * FROM fin_2
         ORDER BY n, id"""
    },

    // Same dropout pairs as q160, same per-word rotate-XOR gram keys; per
    // order the clipped candidate-side precision plus the length ratio —
    // all // floor division.
    "q161_bleu_precisions" -> {
      def block(n: Int) = s"""
           rf_$n AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cr FROM (
                       SELECT id, ${duckGramKey("hr", "i", n)} AS g
                       FROM ph, unnest(range(1, len(hr) - $n + 2)) AS t(i))
                     GROUP BY 1, 2),
           cn_$n AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cc FROM (
                       SELECT id, ${duckGramKey("hc", "i", n)} AS g
                       FROM ph, unnest(range(1, len(hc) - $n + 2)) AS t(i))
                     GROUP BY 1, 2),
           ov_$n AS (SELECT id, CAST(sum(least(cr, cc)) AS BIGINT) AS overlap
                     FROM rf_$n JOIN cn_$n USING (id, g) GROUP BY 1),
           ct_$n AS (SELECT id, CAST(sum(cc) AS BIGINT) AS cand_grams
                     FROM cn_$n GROUP BY 1),
           row_$n AS (SELECT l.id, $n AS n,
                        coalesce(o.overlap, 0) AS overlap, c.cand_grams,
                        l.ref_len, l.cand_len,
                        CASE WHEN c.cand_grams IS NOT NULL
                          THEN (1000 * coalesce(o.overlap, 0)) // c.cand_grams END AS precision_pm,
                        CASE WHEN l.ref_len > 0
                          THEN (1000 * l.cand_len) // l.ref_len END AS brevity_pm
                      FROM lens l LEFT JOIN ct_$n c USING (id)
                                  LEFT JOIN ov_$n o ON l.id = o.id)"""
      s"""WITH base AS (SELECT doc_id AS id, text,
                          string_split(text, ' ') AS w FROM documents),
           p AS (SELECT id, text AS reference,
                   array_to_string(list_filter(list_transform(range(1, len(w) + 1), i ->
                     CASE WHEN CAST(concat('0x', substr(md5('drop' || CAST(id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 4)) AS INT) % 5 = 0
                          THEN NULL ELSE w[i] END), x -> x IS NOT NULL), ' ') AS candidate
                 FROM base),
           pw AS (SELECT id,
                    list_filter(string_split(reference, ' '), x -> x <> '') AS wr,
                    list_filter(string_split(candidate, ' '), x -> x <> '') AS wc
                  FROM p),
           ph AS (SELECT id,
                    list_transform(wr, x -> ${duckHash60("x")}) AS hr,
                    list_transform(wc, x -> ${duckHash60("x")}) AS hc
                  FROM pw),
           lens AS (SELECT id, CAST(len(wr) AS BIGINT) AS ref_len,
                      CAST(len(wc) AS BIGINT) AS cand_len FROM pw),
           ${block(1)},
           ${block(2)},
           ${block(3)},
           ${block(4)}
         SELECT * FROM row_1 UNION ALL SELECT * FROM row_2
         UNION ALL SELECT * FROM row_3 UNION ALL SELECT * FROM row_4
         ORDER BY n, id"""
    },

    // Corpus pools of the same clipped censuses, then the engine-exact
    // composite: integer fourth root via the nested floor-sqrt (IEEE sqrt
    // is correctly rounded in both engines) and the SAME driver-computed
    // brevity-penalty literal grid the Spark plan embeds.
    "q163_corpus_generation_eval" -> {
      def block(n: Int) = s"""
           rf_$n AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cr FROM (
                       SELECT id, ${duckGramKey("hr", "i", n)} AS g
                       FROM ph, unnest(range(1, len(hr) - $n + 2)) AS t(i))
                     GROUP BY 1, 2),
           cn_$n AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cc FROM (
                       SELECT id, ${duckGramKey("hc", "i", n)} AS g
                       FROM ph, unnest(range(1, len(hc) - $n + 2)) AS t(i))
                     GROUP BY 1, 2),
           s_$n AS (SELECT
                      (SELECT CAST(sum(least(cr, cc)) AS BIGINT)
                       FROM rf_$n JOIN cn_$n USING (id, g)) AS ov$n,
                      (SELECT CAST(sum(cr) AS BIGINT) FROM rf_$n) AS rt$n,
                      (SELECT CAST(sum(cc) AS BIGINT) FROM cn_$n) AS ct$n)"""
      val bpValues = graft.operators.TextEval.brevityPenaltyGrid
        .map { case (q, v) => s"($q, $v)" }.mkString(", ")
      s"""WITH base AS (SELECT doc_id AS id, text,
                          string_split(text, ' ') AS w FROM documents),
           p AS (SELECT id, text AS reference,
                   array_to_string(list_filter(list_transform(range(1, len(w) + 1), i ->
                     CASE WHEN CAST(concat('0x', substr(md5('drop' || CAST(id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 4)) AS INT) % 5 = 0
                          THEN NULL ELSE w[i] END), x -> x IS NOT NULL), ' ') AS candidate
                 FROM base),
           pw AS (SELECT id,
                    list_filter(string_split(reference, ' '), x -> x <> '') AS wr,
                    list_filter(string_split(candidate, ' '), x -> x <> '') AS wc
                  FROM p),
           ph AS (SELECT id,
                    list_transform(wr, x -> ${duckHash60("x")}) AS hr,
                    list_transform(wc, x -> ${duckHash60("x")}) AS hc
                  FROM pw),
           lens AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(coalesce(sum(len(wr)), 0) AS BIGINT) AS ref_tokens,
                      CAST(coalesce(sum(len(wc)), 0) AS BIGINT) AS cand_tokens
                    FROM pw),
           ${block(1)}, ${block(2)}, ${block(3)}, ${block(4)},
           bpv AS (SELECT * FROM (VALUES $bpValues) AS t(q, v)),
           m AS (SELECT * FROM lens, s_1, s_2, s_3, s_4),
           r AS (SELECT n_pairs, ref_tokens, cand_tokens,
                   CASE WHEN ct1 IS NOT NULL AND ct1 > 0
                     THEN (1000 * coalesce(ov1, 0)) // ct1 END AS rouge1_precision_pm,
                   CASE WHEN rt1 IS NOT NULL AND rt1 > 0
                     THEN (1000 * coalesce(ov1, 0)) // rt1 END AS rouge1_recall_pm,
                   CASE WHEN ct2 IS NOT NULL AND ct2 > 0
                     THEN (1000 * coalesce(ov2, 0)) // ct2 END AS rouge2_precision_pm,
                   CASE WHEN rt2 IS NOT NULL AND rt2 > 0
                     THEN (1000 * coalesce(ov2, 0)) // rt2 END AS rouge2_recall_pm,
                   CASE WHEN ct1 IS NOT NULL AND ct1 > 0
                     THEN (1000 * coalesce(ov1, 0)) // ct1 END AS p1_pm,
                   CASE WHEN ct2 IS NOT NULL AND ct2 > 0
                     THEN (1000 * coalesce(ov2, 0)) // ct2 END AS p2_pm,
                   CASE WHEN ct3 IS NOT NULL AND ct3 > 0
                     THEN (1000 * coalesce(ov3, 0)) // ct3 END AS p3_pm,
                   CASE WHEN ct4 IS NOT NULL AND ct4 > 0
                     THEN (1000 * coalesce(ov4, 0)) // ct4 END AS p4_pm
                 FROM m),
           r2 AS (SELECT *,
                    CASE WHEN rouge1_precision_pm IS NOT NULL AND rouge1_recall_pm IS NOT NULL
                      THEN CASE WHEN rouge1_precision_pm + rouge1_recall_pm > 0
                        THEN (2 * rouge1_precision_pm * rouge1_recall_pm)
                               // (rouge1_precision_pm + rouge1_recall_pm)
                        ELSE 0 END END AS rouge1_f1_pm,
                    CASE WHEN rouge2_precision_pm IS NOT NULL AND rouge2_recall_pm IS NOT NULL
                      THEN CASE WHEN rouge2_precision_pm + rouge2_recall_pm > 0
                        THEN (2 * rouge2_precision_pm * rouge2_recall_pm)
                               // (rouge2_precision_pm + rouge2_recall_pm)
                        ELSE 0 END END AS rouge2_f1_pm,
                    CASE WHEN p1_pm IS NOT NULL AND p2_pm IS NOT NULL
                          AND p3_pm IS NOT NULL AND p4_pm IS NOT NULL
                      THEN CAST(floor(sqrt(floor(sqrt(CAST(p1_pm * p2_pm * p3_pm * p4_pm
                             AS DOUBLE))))) AS BIGINT) END AS gm_pm,
                    CASE WHEN cand_tokens >= ref_tokens THEN CAST(1000 AS BIGINT)
                         WHEN cand_tokens > 0 THEN
                           (SELECT CAST(v AS BIGINT) FROM bpv
                            WHERE q = least(300, (100 * ref_tokens) // cand_tokens)) END AS bp_pm
                  FROM r)
         SELECT n_pairs, ref_tokens, cand_tokens,
                rouge1_precision_pm, rouge1_recall_pm, rouge1_f1_pm,
                rouge2_precision_pm, rouge2_recall_pm, rouge2_f1_pm,
                p1_pm, p2_pm, p3_pm, p4_pm, gm_pm, bp_pm,
                CASE WHEN gm_pm IS NOT NULL AND bp_pm IS NOT NULL
                  THEN (bp_pm * gm_pm) // 1000 END AS bleu_pm
         FROM r2"""
    },

    // The naive single global window (exact integer addition reassociates,
    // so the engine's two-level prefix sum matches it bit-for-bit). Same
    // empty-dropping whitespace token contract on both sides.
    "q164_sequence_packing" ->
      """WITH tok AS (SELECT doc_id,
                  CAST(coalesce(len(list_filter(string_split(text, ' '),
                                                x -> x <> '')), 0) AS BIGINT) AS n_tok
                FROM documents),
         cum AS (SELECT doc_id, n_tok,
                  CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS start_off
                 FROM tok)
         SELECT doc_id, n_tok, start_off,
                CASE WHEN n_tok > 0 THEN start_off // 256 END AS first_chunk,
                CASE WHEN n_tok > 0 THEN (start_off + n_tok - 1) // 256 END AS last_chunk,
                CASE WHEN n_tok > 0
                  THEN (start_off + n_tok - 1) // 256 - start_off // 256 + 1
                  ELSE CAST(0 AS BIGINT) END AS n_chunks
         FROM cum ORDER BY doc_id""",

    // Same placement CTE collapsed to the one-row report; all integer
    // floor division, NULL ratios on a degenerate (zero-token) corpus.
    "q165_packing_report" ->
      """WITH tok AS (SELECT doc_id,
                  CAST(coalesce(len(list_filter(string_split(text, ' '),
                                                x -> x <> '')), 0) AS BIGINT) AS n_tok
                FROM documents),
         cum AS (SELECT doc_id, n_tok,
                  CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS start_off
                 FROM tok),
         pl AS (SELECT n_tok, start_off,
                  CASE WHEN n_tok > 0
                    THEN (start_off + n_tok - 1) // 256 - start_off // 256 + 1
                    ELSE CAST(0 AS BIGINT) END AS n_chunks
                FROM cum),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS total_tokens,
                 CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS docs_crossing,
                 CAST(sum(n_chunks) AS BIGINT) AS chunk_incidences,
                 min(CASE WHEN n_tok > 0 THEN start_off END) AS min_off,
                 max(CASE WHEN n_tok > 0 THEN start_off + n_tok END) AS max_end
               FROM pl)
         SELECT n_docs, total_tokens, docs_crossing,
                CASE WHEN total_tokens > 0
                  THEN (max_end + 255) // 256 - min_off // 256
                  ELSE CAST(0 AS BIGINT) END AS n_chunks,
                CASE WHEN total_tokens > 0
                  THEN ((max_end + 255) // 256) * 256 - max_end
                  ELSE CAST(0 AS BIGINT) END AS tail_pad,
                CASE WHEN n_docs > 0
                  THEN (1000 * docs_crossing) // n_docs END AS crossing_pm,
                CASE WHEN total_tokens > 0
                  THEN (1000000 * chunk_incidences)
                       // ((max_end + 255) // 256 - min_off // 256)
                  END AS mean_docs_per_chunk_fp
         FROM a""",

    // The SAME Scala-generated ⌊1e6·(s/1000)^0.7⌋ grid as a VALUES table
    // (the q163 brevity-grid idiom) — the only transcendental is evaluated
    // once on the driver, so both engines do pure integer arithmetic.
    "q166_domain_mixture" -> {
      val gridValues = graft.operators.Mixtures.temperatureGrid(7)
        .map { case (s, v) => s"($s, $v)" }.mkString(", ")
      s"""WITH grid AS (SELECT CAST(s AS BIGINT) AS s, CAST(v AS BIGINT) AS v
                        FROM (VALUES $gridValues) AS t(s, v)),
          ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1),
          tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM ps),
          sh AS (SELECT source, n_docs, n_tokens,
                   CASE WHEN total_tokens > 0
                     THEN (1000 * n_tokens) // total_tokens
                     ELSE CAST(0 AS BIGINT) END AS share_pm
                 FROM ps, tot),
          tw AS (SELECT sh.*, (SELECT v FROM grid WHERE s = share_pm) AS temp_wt
                 FROM sh),
          ws AS (SELECT CAST(sum(temp_wt) AS BIGINT) AS wt_sum FROM tw),
          mx AS (SELECT tw.*,
                   CASE WHEN wt_sum > 0
                     THEN (1000 * temp_wt) // wt_sum END AS mix_pm
                 FROM tw, ws)
          SELECT source, n_docs, n_tokens, share_pm, temp_wt, mix_pm,
                 CASE WHEN share_pm > 0
                   THEN (1000000 * mix_pm) // share_pm END AS upsample_fp
          FROM mx ORDER BY source"""
    },

    // The ppm-resolution twin: same derived tiny/big frame, the same
    // Scala-generated exact-floor ×1e9 grid over the 461-value quantized
    // share domain, and the same overflow-safe two-regime ppm division +
    // 2-significant-digit floor quantization in portable integer SQL.
    "q167_domain_mixture_fine" -> {
      val gridValues = graft.operators.Mixtures.temperatureGridPpm(7)
        .map { case (s, v) => s"($s, $v)" }.mkString(", ")
      s"""WITH grid AS (SELECT CAST(s AS BIGINT) AS s, CAST(v AS BIGINT) AS v
                        FROM (VALUES $gridValues) AS t(s, v)),
          src AS (SELECT CASE WHEN doc_id = 0 THEN 'tiny' ELSE 'big' END AS source,
                         CASE WHEN doc_id = 0 THEN 'x' ELSE text END AS text
                  FROM documents),
          ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS BIGINT) AS n_tokens
                 FROM src GROUP BY 1),
          tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM ps),
          sh AS (SELECT source, n_docs, n_tokens,
                   CASE WHEN n_tokens <= 0 OR total_tokens <= 0 THEN CAST(0 AS BIGINT)
                        ELSE LEAST(CAST(1000000 AS BIGINT), GREATEST(CAST(1 AS BIGINT),
                          CASE WHEN total_tokens >= 1000
                               THEN (1000 * n_tokens) // (total_tokens // 1000)
                               ELSE (1000000 * n_tokens) // total_tokens END))
                   END AS share_ppm
                 FROM ps, tot),
          qz AS (SELECT sh.*,
                   CASE WHEN share_ppm < 100 THEN share_ppm
                        ELSE (share_ppm // CAST('1' || repeat('0',
                               len(CAST(share_ppm AS VARCHAR)) - 2) AS BIGINT))
                             * CAST('1' || repeat('0',
                               len(CAST(share_ppm AS VARCHAR)) - 2) AS BIGINT)
                   END AS share_q
                 FROM sh),
          tw AS (SELECT source, n_docs, n_tokens, share_ppm,
                   (SELECT v FROM grid WHERE s = share_q) AS temp_wt
                 FROM qz),
          ws AS (SELECT CAST(sum(temp_wt) AS BIGINT) AS wt_sum FROM tw),
          mx AS (SELECT tw.*,
                   CASE WHEN wt_sum > 0
                     THEN (1000000 * temp_wt) // wt_sum END AS mix_ppm
                 FROM tw, ws)
          SELECT source, n_docs, n_tokens, share_ppm, temp_wt, mix_ppm,
                 CASE WHEN share_ppm > 0
                   THEN (1000000 * mix_ppm) // share_ppm END AS upsample_fp
          FROM mx ORDER BY source"""
    },
    // Same sliding windows and gaps-and-islands coalescing — md5 digests
    // and token coordinates are bit-identical. DuckDB keeps the
    // census+join formulation (hence MATERIALIZED wins) where Spark counts
    // occurrences with a window over the digest key; the occ >= 2 gate is
    // value-identical either way.
    "q115_duplicate_spans" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g AS (SELECT doc_id, w, unnest(range(0, len(w) - 10 + 1)) AS i
               FROM ws WHERE len(w) >= 10),
         wins AS MATERIALIZED (SELECT doc_id, i,
                      md5(array_to_string(w[i+1 : i+10], ' ')) AS dg FROM g),
         census AS (SELECT dg FROM wins GROUP BY dg HAVING count(*) >= 2),
         m AS (SELECT doc_id, i AS s, i + 10 AS e FROM wins JOIN census USING (dg)),
         isl AS (SELECT doc_id, s, e,
                        CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                             OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                             THEN 1 ELSE 0 END AS opens
                 FROM m),
         isl2 AS (SELECT doc_id, s, e,
                         CAST(sum(opens) OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
                  FROM isl)
         SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
                max(e) - min(s) AS span_tok
         FROM isl2 GROUP BY doc_id, island
         ORDER BY doc_id, span_start""",

    // Same 8-gram extraction, ±2 widening, and gaps-and-islands coalescing
    // in window SQL — spans are integer token coordinates, bit-identical.
    "q114_span_decontaminate" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g AS (SELECT doc_id, len(w) AS len, w,
                      unnest(range(0, len(w) - 8 + 1)) AS i
               FROM ws WHERE len(w) >= 8),
         grams AS (SELECT doc_id, len, i,
                          array_to_string(w[i+1 : i+8], ' ') AS gram FROM g),
         bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0),
         m AS (SELECT DISTINCT doc_id,
                      greatest(i - 2, 0) AS s, least(i + 8 + 2, len) AS e
               FROM grams JOIN bg USING (gram) WHERE doc_id % 7 != 0),
         isl AS (SELECT doc_id, s, e,
                        CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                             OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                             THEN 1 ELSE 0 END AS opens
                 FROM m),
         isl2 AS (SELECT doc_id, s, e,
                         CAST(sum(opens) OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
                  FROM isl)
         SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
                max(e) - min(s) AS span_tok
         FROM isl2 GROUP BY doc_id, island
         ORDER BY doc_id, span_start""",

    // q41's transitive-closure components, then every doc (singletons
    // included) draws its split from the hash of its cluster representative —
    // the same hash60 the Spark side uses, so assignment is engine-exact.
    "q116_leakage_safe_split" ->
      s"""WITH RECURSIVE
         ws AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT doc_id, ${duckShingles(2)} AS s FROM ws),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.8),
         sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         reach(id, peer) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.id, s.b FROM reach r JOIN sym s ON r.peer = s.a),
         labeled AS (
           SELECT id, least(id, min(peer)) AS component FROM reach GROUP BY id),
         assign AS (
           SELECT d.doc_id, coalesce(l.component, d.doc_id) AS cluster
           FROM documents d LEFT JOIN labeled l ON d.doc_id = l.id),
         bkt AS (
           SELECT doc_id, cluster,
                  ${duckHash60("'lss:' || CAST(cluster AS VARCHAR)")} % 100 AS b
           FROM assign)
         SELECT doc_id, cluster,
                CASE WHEN b < 80 THEN 'train'
                     WHEN b < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM bkt ORDER BY doc_id""",

    // The four funnel gates as one conditional-sum row, stacked into the
    // 4-row report; `//` = Spark `div` on the non-negative counts.
    "q117_filter_funnel" ->
      """WITH t AS (SELECT len(string_split(text, ' ')) AS ntok, lang,
                  len(list_filter(string_split(text, ' '),
                                  x -> x IN ('the', 'a'))) AS nstop,
                  len(list_distinct(string_split(text, ' '))) AS ndis
           FROM documents),
         f AS (SELECT ntok >= 30 AS p1,
                      lang IN ('en', 'de', 'fr', 'es') AS p2,
                      1000 * nstop // ntok >= 20 AS p3,
                      1000 * ndis // ntok >= 350 AS p4 FROM t),
         agg AS (SELECT count(*) AS s0,
                  CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
                  CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
                  CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)
                       AS BIGINT) AS s3,
                  CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END)
                       AS BIGINT) AS s4
                 FROM f)
         SELECT 1 AS stage_idx, 'len_ge_30' AS stage, s0 AS n_in, s1 AS n_out,
                1000 * s1 // nullif(s0, 0) AS yield_pm FROM agg
         UNION ALL SELECT 2, 'lang_keep', s1, s2, 1000 * s2 // nullif(s1, 0) FROM agg
         UNION ALL SELECT 3, 'stopword_density', s2, s3, 1000 * s3 // nullif(s2, 0) FROM agg
         UNION ALL SELECT 4, 'ttr_ge_350', s3, s4, 1000 * s4 // nullif(s3, 0) FROM agg
         ORDER BY stage_idx""",

    // The q95 BPE replay (identical staged merges + guarded replace chain)
    // with lang and the alpha-char count carried per doc, aggregated to the
    // per-language fertility table.
    "q118_tokenizer_fertility" -> {
      duckBpeStages(8, 1000) +
        s""",
         tok AS (SELECT doc_id, lang,
                   CAST(strlen(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                        AS BIGINT) AS n_alpha,
                   list_transform(
                     regexp_extract_all(lower(text), '[a-z]+'),
                     w -> regexp_replace(w, '(.)', '(\\1)', 'g')) AS ws
                 FROM documents),
         seg AS (SELECT doc_id, lang, n_alpha,
                        CAST(len(ws) AS BIGINT) AS n_words,
                        ${duckBpeApplied(8)} AS s
                 FROM tok),
         per AS (SELECT lang, n_alpha, n_words,
                        CAST(strlen(s) - strlen(replace(s, '(', ''))
                             AS BIGINT) AS n_subwords
                 FROM seg),
         byl AS (SELECT lang, count(*) AS n_docs,
                        CAST(sum(n_words) AS BIGINT) AS n_words,
                        CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
                        CAST(sum(n_alpha) AS BIGINT) AS n_alpha
                 FROM per GROUP BY lang)
         SELECT lang, n_docs, n_words, n_subwords, n_alpha,
                1000 * n_subwords // nullif(n_words, 0) AS fertility_pm,
                1000 * n_alpha // nullif(n_subwords, 0) AS chars_per_subword_pm
         FROM byl ORDER BY lang"""
    },

    // q41's transitive closure; singletons join in; keeper = arg_min by
    // doc_id (unique within a cluster, so engine-exact); bucket rollup.
    "q119_dedup_impact" ->
      s"""WITH RECURSIVE
         ws AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT doc_id, ${duckShingles(2)} AS s FROM ws),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.8),
         sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         reach(id, peer) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.id, s.b FROM reach r JOIN sym s ON r.peer = s.a),
         labeled AS (
           SELECT id, least(id, min(peer)) AS component FROM reach GROUP BY id),
         toks AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                  FROM documents),
         assign AS (
           SELECT t.doc_id, coalesce(l.component, t.doc_id) AS cluster, t.n_tokens
           FROM toks t LEFT JOIN labeled l ON t.doc_id = l.id),
         per AS (
           SELECT cluster, count(*) AS sz,
                  CAST(sum(n_tokens) AS BIGINT) AS tok,
                  arg_min(n_tokens, doc_id) AS keep_tok
           FROM assign GROUP BY cluster),
         b AS (
           SELECT sz, tok, tok - keep_tok AS tok_removed,
                  CASE WHEN sz = 1 THEN 1 WHEN sz = 2 THEN 2
                       WHEN sz <= 4 THEN 3 ELSE 4 END AS bucket_ord,
                  CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'
                       WHEN sz <= 4 THEN '3-4' ELSE '5+' END AS bucket
           FROM per)
         SELECT bucket_ord, bucket, count(*) AS n_clusters,
                CAST(sum(sz) AS BIGINT) AS n_docs,
                CAST(sum(sz - 1) AS BIGINT) AS docs_removed,
                CAST(sum(tok_removed) AS BIGINT) AS tokens_removed
         FROM b GROUP BY bucket_ord, bucket ORDER BY bucket_ord""",

    // Rebuilds all three deterministic indexes (q36's md5-parity hyperplanes
    // at 6 and 8 bits, q39's id-predicate IVF) plus the exact top-5, then
    // the same micro-recall aggregate per config.
    "q120_ann_recall" -> {
      def lshAnn(nb: Int, tag: String): String =
        s"""sigs$tag AS MATERIALIZED (
           SELECT vec_id, v,
             CAST(list_reduce(list_concat([0::BIGINT], list_transform(range(0, $nb), j ->
               CASE WHEN list_reduce(list_transform(range(0, 64), i ->
                           v[i+1] * (CASE WHEN CAST(concat('0x', substr(md5(concat(j, ':', i)), 32, 1)) AS INT) % 2 = 1
                                     THEN 1.0 ELSE -1.0 END)),
                         (x, y) -> x + y) > 0
               THEN (1::BIGINT << j) ELSE 0::BIGINT END)), (x, y) -> x + y) AS BIGINT) AS sig
           FROM e),
         probes$tag AS (
           SELECT query_id, qv, UNNEST(allsigs) AS sig FROM (
             SELECT vec_id AS query_id, v AS qv,
                    list_concat([sig], list_transform(range(0, $nb), b -> xor(sig, 1::BIGINT << b))) AS allsigs
             FROM sigs$tag WHERE vec_id IN (SELECT vec_id FROM q))),
         cand$tag AS (
           SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id, ${duckCos("c.v", "p.qv")} AS cos
           FROM sigs$tag c JOIN probes$tag p ON c.sig = p.sig
           WHERE c.vec_id != p.query_id),
         ann$tag AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
             FROM cand$tag) WHERE rank <= 5)"""
      def recallRow(name: String, ann: String): String =
        s"""SELECT '$name' AS config,
             CAST(count(DISTINCT x.query_id) AS BIGINT) AS n_queries,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
             (1000000 * CAST(count(a.neighbor_id) AS BIGINT)) // CAST(count(*) AS BIGINT) AS recall_ppm
           FROM exact x LEFT JOIN $ann a
             ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id, v FROM e
               ORDER BY ${duckHash60("'q120:' || CAST(vec_id AS VARCHAR)")}, vec_id
               LIMIT 256),
         exact AS MATERIALIZED (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY ${duckCos("c.v", "q.v")} DESC, c.vec_id ASC) AS rank
             FROM e c JOIN q ON c.vec_id != q.vec_id) WHERE rank <= 5),
         ${lshAnn(6, "6")},
         ${lshAnn(8, "8")},
         ${duckTwoLevelAssign(64)},
         probesI AS (
           SELECT query_id, qv, cid AS cell FROM (
             SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY ${duckCos("q.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM q CROSS JOIN cent c) WHERE rn <= 3),
         candI AS (
           SELECT p.query_id, a.vec_id AS neighbor_id, ${duckCos("a.v", "p.qv")} AS cos
           FROM assigned a JOIN probesI p USING (cell)
           WHERE a.vec_id != p.query_id),
         annI AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
             FROM candI) WHERE rank <= 5)
         SELECT * FROM (
           ${recallRow("lsh_b6", "ann6")}
           UNION ALL ${recallRow("lsh_b8", "ann8")}
           UNION ALL ${recallRow("ivf_p3", "annI")})
         ORDER BY config"""
    },

    // Same 3-gram hash60 rolling hashes; the window argmin is the relational
    // formulation (windows × grams join, row_number by (h, p)) of the Spark
    // side's scalar array_min over struct(h, p) — leftmost-minimum both ways.
    "q121_winnowing" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                     WHERE len(string_split(text, ' ')) >= 3),
         g AS MATERIALIZED (
           SELECT doc_id, len(ws) - 2 AS ng, i AS p,
                  ${duckHash60("array_to_string(ws[i+1:i+3], ' ')")} AS h
           FROM t, UNNEST(range(0, len(ws) - 2)) AS u(i)),
         wins AS (
           SELECT doc_id, ng, j FROM (SELECT DISTINCT doc_id, ng FROM g) dn,
                UNNEST(range(0, greatest(ng - 4, 0) + 1)) AS v(j)),
         sel AS (
           SELECT DISTINCT doc_id, p, h FROM (
             SELECT w.doc_id, g.p, g.h,
                    row_number() OVER (PARTITION BY w.doc_id, w.j
                                       ORDER BY g.h, g.p) AS rn
             FROM wins w JOIN g ON g.doc_id = w.doc_id
                  AND g.p BETWEEN w.j AND w.j + least(4, w.ng) - 1) WHERE rn = 1)
         SELECT doc_id, p AS pos, h AS fp FROM sel ORDER BY doc_id, pos""",

    "q122_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         c AS (SELECT doc_id, len(ws) AS n, ws, s
               FROM t, UNNEST(range(0, len(ws), 24)) AS u(s))
         SELECT doc_id, s // 24 AS chunk_idx, s AS chunk_start,
                least(s + 32, n) AS chunk_end, least(s + 32, n) - s AS chunk_tokens,
                md5(array_to_string(ws[s+1 : least(s + 32, n)], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_start""",

    // sqrt of an exactly-representable integer is the same IEEE double in
    // both engines; everything after it is integer fixed-point.
    "q123_temperature_mix" ->
      """WITH src AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         w AS (SELECT source, n_docs, n_tokens,
                      CAST(floor(sqrt(n_tokens * 1000000.0)) AS BIGINT) AS wt FROM src),
         tot AS (SELECT source, n_docs, n_tokens, wt,
                        CAST(sum(wt) OVER () AS BIGINT) AS tw FROM w)
         SELECT source, n_docs, n_tokens, wt,
                (1000000 * wt) // tw AS share_ppm,
                (10000000 * wt) // tw AS alloc_tokens,
                (1000000 * ((10000000 * wt) // tw)) // n_tokens AS epochs_ppm
         FROM tot ORDER BY source""",

    "q124_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         u AS MATERIALIZED (
           SELECT doc_id, s AS st,
                  array_to_string(ws[s+1 : least(s + 5, len(ws))], ' ') AS seg
           FROM t, UNNEST(range(0, len(ws), 5)) AS v(s)),
         hot AS (SELECT md5(seg) AS dg FROM u GROUP BY 1 HAVING count(*) >= 2),
         kept AS (SELECT doc_id, st, seg FROM u
                  WHERE md5(seg) NOT IN (SELECT dg FROM hot)),
         reb AS (SELECT doc_id,
                   CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_kept,
                   string_agg(seg, ' ' ORDER BY st) AS clean
                 FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
                coalesce(r.n_kept, 0) AS n_kept,
                md5(coalesce(r.clean, '')) AS clean_md5
         FROM t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id""",

    // The ±1 sign is the parity of md5's LAST byte (hex char 32 is its low
    // nibble); every fold is the 0.0-seeded left fold, so doubles are
    // bit-identical to the Spark aggregate() twin.
    "q125_random_projection" -> {
      def fsum(l: String) =
        s"list_reduce(list_concat([0.0::DOUBLE], $l), (x, y) -> x + y)"
      val signOf =
        "(CASE WHEN CAST(concat('0x', substr(md5(concat('jl:', k, ':', i)), 32, 1)) AS INT) % 2 = 1 " +
          "THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT vec_id, v,
                 list_transform(range(0, 16), k ->
                   ${fsum(s"list_transform(range(0, 64), i -> v[i+1] * $signOf)")}) AS proj
               FROM e),
         n AS (SELECT vec_id, proj,
                 ${fsum("list_transform(proj, x -> x * x)")} AS np2,
                 ${fsum("list_transform(v, x -> x * x)")} AS nx2
               FROM p)
         SELECT vec_id, round(proj[1], 4) AS p0, round(proj[2], 4) AS p1,
                round(proj[3], 4) AS p2, round(proj[4], 4) AS p3,
                round(CASE WHEN nx2 = 0 THEN 0.0 ELSE np2 / (16.0 * nx2) END, 4) AS ratio
         FROM n ORDER BY vec_id"""
    },

    // Same integer fixed point end-to-end: wt = (1000·tf) // df, cosine as
    // (10⁶·dot) // (⌊√n2a⌋·⌊√n2b⌋) — sqrt of an exactly-representable BIGINT
    // is the identical IEEE double in both engines.
    "q126_tfidf_cosine" ->
      """WITH t AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
                    FROM documents WHERE doc_id % 10 = 0),
         tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         nd AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_docs FROM t),
         post AS (SELECT id, term, (1000 * tf) // df AS wt
                  FROM tf JOIN df USING (term), nd
                  WHERE df * 2 <= nd.n_docs AND (1000 * tf) // df > 0),
         norms AS (SELECT id,
                     CAST(floor(sqrt(CAST(sum(wt * wt) AS BIGINT)::DOUBLE)) AS BIGINT) AS nrm
                   FROM post GROUP BY 1),
         pairs AS (SELECT a.id AS a, b.id AS b,
                     CAST(sum(a.wt * b.wt) AS BIGINT) AS dot,
                     CAST(count(*) AS BIGINT) AS n_shared
                   FROM post a JOIN post b ON a.term = b.term AND a.id < b.id
                   GROUP BY 1, 2)
         SELECT p.a, p.b, n_shared,
                (1000000 * dot) // (na.nrm * nb.nrm) AS cos_ppm
         FROM pairs p JOIN norms na ON p.a = na.id JOIN norms nb ON p.b = nb.id
         WHERE (1000000 * dot) // (na.nrm * nb.nrm) >= 500000
         ORDER BY a, b""",

    // Exact-kNN rank (cos DESC, vec_id ASC — the q35 tie rule), then the
    // majority vote re-derived relationally (votes DESC, label ASC).
    "q127_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         q AS (SELECT vec_id, v, label FROM e WHERE vec_id % 10 = 7
               ORDER BY ${duckHash60("'q127:' || CAST(vec_id AS VARCHAR)")}, vec_id
               LIMIT 256),
         c AS (SELECT vec_id, v, label FROM e WHERE vec_id % 10 <> 7),
         nn AS (SELECT query_id, label FROM (
             SELECT q.vec_id AS query_id, c.label,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY ${duckCos("c.v", "q.v")} DESC, c.vec_id ASC) AS rank
             FROM c CROSS JOIN q) WHERE rank <= 5),
         votes AS (SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
                   FROM nn GROUP BY 1, 2),
         win AS (SELECT query_id, label AS pred_label, votes FROM (
             SELECT query_id, label, votes,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY votes DESC, label ASC) AS rn
             FROM votes) WHERE rn = 1),
         tot AS (SELECT query_id, CAST(sum(votes) AS BIGINT) AS n_votes
                 FROM votes GROUP BY 1)
         SELECT w.query_id, w.pred_label, w.votes, t.n_votes,
                q.label AS true_label, w.pred_label = q.label AS correct
         FROM win w JOIN tot t USING (query_id) JOIN q ON q.vec_id = w.query_id
         ORDER BY query_id""",

    "q128_k_anonymity" ->
      """WITH g AS (SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hh,
                CAST(floor(value / 10) AS BIGINT) AS vbucket,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
              FROM events GROUP BY 1, 2, 3)
         SELECT event_type, hh, vbucket, n, n_sensitive,
                n < 5 AS fail_k, n_sensitive < 3 AS fail_l
         FROM g WHERE n < 5 OR n_sensitive < 3
         ORDER BY event_type, hh, vbucket""",

    // Same bit-identical cosine fold; the argmax re-derived relationally
    // (cos DESC, eval_id ASC — the max(struct(cos, -eval_id)) tie rule).
    "q129_semantic_decontaminate" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ev AS (SELECT vec_id AS eval_id, v AS evec FROM e WHERE vec_id % 10 = 0
                ORDER BY ${duckHash60("'q129:' || CAST(vec_id AS VARCHAR)")}, vec_id
                LIMIT 256),
         tr AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         hits AS (SELECT id, eval_id, cos FROM (
             SELECT tr.id, ev.eval_id, ${duckCos("tr.v", "ev.evec")} AS cos
             FROM tr CROSS JOIN ev)
           WHERE cos >= 0.3),
         best AS (SELECT id, eval_id, cos FROM (
             SELECT id, eval_id, cos,
                    row_number() OVER (PARTITION BY id
                                       ORDER BY cos DESC, eval_id ASC) AS rn
             FROM hits) WHERE rn = 1),
         m AS (SELECT id, CAST(count(*) AS BIGINT) AS n_matches FROM hits GROUP BY 1)
         SELECT b.id, b.eval_id, round(b.cos, 4) AS cos, m.n_matches
         FROM best b JOIN m USING (id) ORDER BY id""",

    "q130_vocab_coverage" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         census AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
                        CAST(count(*) AS BIGINT) AS vocab_size FROM census),
         top AS (SELECT term, cnt FROM census ORDER BY cnt DESC, term LIMIT 25),
         ranked AS (SELECT
             CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT) AS k,
             CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS top_k_tokens
           FROM top)
         SELECT k, top_k_tokens, total_tokens,
                (1000000 * top_k_tokens) // total_tokens AS coverage_ppm,
                vocab_size
         FROM ranked, tot WHERE k IN (5, 10, 25) ORDER BY k""",

    // Same windowed pair Generate (context 1..2 positions right of the
    // center): Spark sequence(a, b) is end-INCLUSIVE, DuckDB range(a, b)
    // end-EXCLUSIVE — hence least(i + 3, len) here vs least(i + 2, size - 1).
    "q131_skipgram_cooccur" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         p AS (SELECT unnest(flatten(list_transform(range(0, len(ws) - 1), i ->
                  list_transform(range(i + 1, least(i + 3, len(ws))), j ->
                    struct_pack(w1 := ws[i + 1], w2 := ws[j + 1]))))) AS p
               FROM w)
         SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS cnt
         FROM p GROUP BY 1, 2 ORDER BY cnt DESC, w1, w2 LIMIT 20""",

    "q132_phrase_blocklist" ->
      """WITH c AS (SELECT doc_id,
           (length(text) - length(replace(text, 'hash join', ''))) // 9 AS n_hash_join,
           (length(text) - length(replace(text, 'row batch', ''))) // 9 AS n_row_batch,
           (length(text) - length(replace(text, 'filter scan', ''))) // 11 AS n_filter_scan
         FROM documents)
         SELECT doc_id, n_hash_join, n_row_batch, n_filter_scan,
                n_hash_join + n_row_batch + n_filter_scan AS n_hits,
                (n_hash_join + n_row_batch + n_filter_scan) = 0 AS keep
         FROM c ORDER BY doc_id""",

    // Identical integer pipeline: the q96 quality_fp, a per-source value
    // census, the cumulative-≤ window over census rows, and the ppm floor
    // division — every step integer bits.
    "q133_quantile_normalize" ->
      """WITH base AS (SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                    w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop
             FROM documents),
         scored AS (SELECT doc_id, source,
               (1000000 * least(n_tokens, 50) * (n_tokens - n_stop))
                 // (50 * n_tokens) AS quality_fp
             FROM base),
         census AS (SELECT source, quality_fp, CAST(count(*) AS BIGINT) AS cnt
                    FROM scored GROUP BY 1, 2),
         tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs
                 FROM census GROUP BY 1),
         cdf AS (SELECT source, quality_fp,
               CAST(sum(cnt) OVER (PARTITION BY source ORDER BY quality_fp
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_le
             FROM census),
         j AS (SELECT c.source, c.quality_fp,
                      (1000000 * c.cum_le) // t.n_docs AS cdf_ppm
               FROM cdf c JOIN tot t USING (source))
         SELECT s.doc_id, s.source, s.quality_fp, j.cdf_ppm
         FROM scored s JOIN j USING (source, quality_fp) ORDER BY doc_id""",

    // Same census CDF + ⌈q·n⌉ rank cutoffs (positive-operand ceiling, so
    // Spark's truncating div and DuckDB's flooring // agree) + clamp.
    "q138_winsorize" ->
      """WITH ev AS (SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS vfp FROM events),
         census AS (SELECT event_type, vfp, CAST(count(*) AS BIGINT) AS cnt
                    FROM ev GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
                 FROM census GROUP BY 1),
         cdf AS (SELECT c.event_type, c.vfp, t.n,
               CAST(sum(c.cnt) OVER (PARTITION BY c.event_type ORDER BY c.vfp
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum
             FROM census c JOIN tot t USING (event_type)),
         cuts AS (SELECT event_type,
               min(CASE WHEN cum >= (5 * n + 99) // 100 THEN vfp END) AS p05_fp,
               min(CASE WHEN cum >= (95 * n + 99) // 100 THEN vfp END) AS p95_fp
             FROM cdf GROUP BY 1)
         SELECT e.event_id, e.event_type, e.vfp,
                greatest(c.p05_fp, least(c.p95_fp, e.vfp)) AS clipped_fp,
                (e.vfp < c.p05_fp OR e.vfp > c.p95_fp) AS was_clipped
         FROM ev e JOIN cuts c USING (event_type)
         ORDER BY event_id""",

    // Same verified pair graph (the q32 quadratic twin), same degree
    // orientation with (d, id) lexicographic ties — each triangle surfaces
    // at exactly one vertex in both engines.
    "q137_triangle_count" ->
      s"""${withDocShingles(2, "TRUE")},
         pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.8),
         dg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
             SELECT u AS x FROM pairs UNION ALL SELECT v AS x FROM pairs)
           GROUP BY 1),
         o AS (SELECT
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS s,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS t,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS dt
           FROM pairs JOIN dg du ON pairs.u = du.x JOIN dg dv ON pairs.v = dv.x),
         tri AS (SELECT o1.s AS s, o1.t AS t1, o2.t AS t2
           FROM o o1 JOIN o o2 ON o1.s = o2.s
             AND (o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t))
           JOIN o oc ON oc.s = o1.t AND oc.t = o2.t)
         SELECT l[1] AS a, l[2] AS b, l[3] AS c
         FROM (SELECT list_sort([s, t1, t2]) AS l FROM tri)
         ORDER BY a, b, c""",

    // Same bounded-grid construction: per-source and global CDFs in ppm from
    // the value censuses, |F_s − F_c| maximized per source (ties → smallest
    // value, the max(struct(d, −v)) rule re-derived relationally).
    "q135_source_drift" ->
      """WITH docs AS (SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
         sc AS (SELECT source, v, CAST(count(*) AS BIGINT) AS cnt
                FROM docs GROUP BY 1, 2),
         gc AS (SELECT v, CAST(count(*) AS BIGINT) AS gcnt FROM docs GROUP BY 1),
         st AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM sc GROUP BY 1),
         gt AS (SELECT CAST(sum(gcnt) AS BIGINT) AS n_c FROM gc),
         gcdf AS (SELECT v, CAST(sum(gcnt) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS gcum FROM gc),
         grid AS (SELECT s.source, g.v, g.gcum
                  FROM (SELECT DISTINCT source FROM sc) s CROSS JOIN gcdf g),
         scdf AS (SELECT grid.source, grid.v, grid.gcum,
               CAST(sum(COALESCE(sc.cnt, 0)) OVER (PARTITION BY grid.source
                 ORDER BY grid.v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS scum
             FROM grid LEFT JOIN sc ON grid.source = sc.source AND grid.v = sc.v),
         dppm AS (SELECT c.source, c.v, t.n_s,
               abs((1000000 * c.scum) // t.n_s - (1000000 * c.gcum) // gt.n_c) AS d_ppm
             FROM scdf c JOIN st t USING (source) CROSS JOIN gt),
         win AS (SELECT source, v, n_s, d_ppm,
               row_number() OVER (PARTITION BY source
                                  ORDER BY d_ppm DESC, v ASC) AS rn
             FROM dppm)
         SELECT source, n_s AS n_docs, d_ppm AS ks_ppm, v AS at_value
         FROM win WHERE rn = 1 ORDER BY source""",

    "q136_event_trigrams" ->
      """WITH seq AS (SELECT event_type AS t1,
               lead(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS t2,
               lead(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS t3
             FROM events)
         SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS cnt
         FROM seq WHERE t3 IS NOT NULL
         GROUP BY 1, 2, 3 ORDER BY cnt DESC, t1, t2, t3 LIMIT 10""",

    // The 5 greedy MMR rounds unrolled: each round's winner maximizes
    // 0.5·rel − 0.5·max-sim-to-selected (ties → smallest id), exactly the
    // driver-side fold — the shared left-fold cosine makes every score
    // bit-identical.
    "q134_mmr_diversify" -> {
      val cosQ = duckCos("c.v", "q.qv")
      val cosAB = duckCos("a.v", "b.v")
      def cand(n: Int): String = {
        val sel = (1 until n).map(i => s"SELECT id FROM sel$i").mkString(" UNION ALL ")
        s"""cand$n AS (SELECT r.id, r.rel,
              0.5*r.rel - 0.5*(SELECT max(s.s) FROM sim s
                               WHERE s.i = r.id AND s.j IN ($sel)) AS mmr
            FROM rel r WHERE r.id NOT IN ($sel)),
           sel$n AS (SELECT id, rel, mmr FROM cand$n ORDER BY mmr DESC, id LIMIT 1)"""
      }
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         c AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 25 = 0 AND vec_id <> 0),
         rel AS (SELECT c.id, $cosQ AS rel FROM c, q),
         sim AS MATERIALIZED (SELECT a.id AS i, b.id AS j, $cosAB AS s
               FROM c a JOIN c b ON a.id <> b.id),
         sel1 AS (SELECT id, rel, 0.5*rel AS mmr FROM rel
                  ORDER BY 0.5*rel DESC, id LIMIT 1),
         ${(2 to 5).map(cand).mkString(",\n         ")}
         SELECT 1 AS rank, id, round(rel, 4) AS rel, round(mmr, 4) AS mmr FROM sel1
         ${(2 to 5).map(i =>
           s"UNION ALL SELECT $i, id, round(rel, 4), round(mmr, 4) FROM sel$i")
           .mkString("\n         ")}
         ORDER BY rank"""
    },

    // Rebuilds the IDENTICAL Bloom bitset (same md5-seeded positions), so the
    // probe flags — false positives included — hash-match exactly.
    "q67_bloom_decontaminate" -> {
      def h(i: Int) = s"${duckHash60(s"concat('$i:', gram)")} % 4096"
      s"""${withDocShingles(5, "TRUE")},
         bgrams AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 97 = 0),
         bits AS (SELECT DISTINCT pos FROM (
             SELECT ${h(100)} AS pos FROM bgrams
             UNION ALL SELECT ${h(101)} FROM bgrams
             UNION ALL SELECT ${h(102)} FROM bgrams)),
         posts AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         flag AS (SELECT doc_id, gram,
                    (${h(100)} IN (SELECT pos FROM bits)
                     AND ${h(101)} IN (SELECT pos FROM bits)
                     AND ${h(102)} IN (SELECT pos FROM bits)) AS maybe
                  FROM posts)
         SELECT doc_id,
                CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe_grams,
                bool_or(maybe) AS maybe_contaminated
         FROM flag GROUP BY doc_id ORDER BY doc_id"""
    },
    // CAST: DuckDB window sum returns HUGEINT; Spark sums are BIGINT and the
    // driver hash is type-sensitive (the q08 lesson)
    "q45_shard_packing" ->
      """SELECT doc_id, doc_id % 8 AS worker,
         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // 512 AS BIGINT) AS shard,
         CAST(n_tokens AS BIGINT) AS n_tokens
         FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
         ORDER BY doc_id""",
    "q46_stateful_totals" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q54_kmv_distinct" ->
      s"""WITH tokens AS (SELECT source, unnest(string_split(text, ' ')) AS term
                          FROM documents),
         hashed AS (SELECT DISTINCT source, ${duckHash60("term")} AS h FROM tokens),
         bk AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h) AS rk
                FROM hashed),
         agg AS (SELECT source, count(*) AS n_hashes, max(h) AS kth_min
                 FROM bk WHERE rk <= 16 GROUP BY source),
         exact AS (SELECT source, count(DISTINCT term) AS exact_distinct
                   FROM tokens GROUP BY source)
         SELECT agg.source, exact_distinct, n_hashes,
                round(CASE WHEN n_hashes < 16 THEN n_hashes::DOUBLE
                      ELSE 15.0 * 1152921504606846976 / kth_min::DOUBLE END, 4)
                  AS estimate
         FROM agg JOIN exact USING (source) ORDER BY source""",
    // DuckDB's NATIVE ASOF JOIN is the oracle — the union+window formulation
    // must reproduce it exactly (at-or-before semantics, LEFT nulls).
    "q52_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
                            event_type, value FROM events),
         clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
         purchases AS (SELECT user_id, ts_us, max(value) AS pvalue
                       FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_us)
         SELECT c.event_id, c.user_id, c.ts_us, round(p.pvalue, 4) AS last_purchase
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
         ORDER BY c.event_id""",
    // DuckDB's native FORWARD ASOF (c.ts <= p.ts picks the earliest at-or-
    // after) is the oracle; the 30-min tolerance nulls the value post-join.
    "q69_asof_forward" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
                            event_type, value FROM events),
         clicks AS (SELECT event_id AS click_id, user_id, ts_us FROM ev
                    WHERE event_type = 'click'),
         purchases AS (SELECT user_id, ts_us, max(value) AS pvalue
                       FROM ev WHERE event_type = 'purchase'
                       GROUP BY user_id, ts_us)
         SELECT c.click_id, c.user_id, c.ts_us,
                round(CASE WHEN p.ts_us - c.ts_us <= 1800000000
                           THEN p.pvalue END, 4) AS next_purchase
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
         ORDER BY c.click_id""",
    "q53_range_join" ->
      """WITH ev AS (SELECT event_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events),
         iv AS (SELECT event_id AS iv_id, ts_us AS start_us,
                       ts_us + 5400000000 AS end_us
                FROM ev WHERE event_id % 199 = 0)
         SELECT iv_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM iv JOIN ev ON ev.ts_us >= iv.start_us AND ev.ts_us < iv.end_us
         GROUP BY iv_id ORDER BY iv_id""",
    "q50_event_percentiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.9), 4) AS p90,
         round(quantile_cont(value, 0.99), 4) AS p99
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q51_fuzzy_pairs" ->
      """WITH s AS (SELECT doc_id, substr(text, 1, 128) AS t FROM documents)
         SELECT a.doc_id AS a, b.doc_id AS b, levenshtein(a.t, b.t) AS dist
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.t, b.t) <= 20 ORDER BY a, b""",
    // Same regex chain in RE2; the scrubbed text md5 must match byte-for-byte.
    "q59_pii_redact" -> {
      // the SAME constants the Spark side compiles — a second copy of the
      // literals would silently drift if either were tuned
      val email = T.EmailRe
      val phone = T.PhoneRe
      val ip = T.Ipv4Re
      s"""WITH dirty AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com tel +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17' AS t
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(t, '$email')) AS n_emails,
           len(regexp_extract_all(t, '$phone')) AS n_phones,
           len(regexp_extract_all(t, '$ip')) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '$email', '[EMAIL]', 'g'), '$phone', '[PHONE]', 'g'),
             '$ip', '[IP]', 'g')) AS clean_md5
         FROM dirty ORDER BY doc_id"""
    },
    "q60_mixture_sample" ->
      s"""SELECT source, sample_rank, doc_id FROM (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                    ORDER BY ${duckHash60("'s60:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS sample_rank
           FROM documents)
         WHERE sample_rank <= (length(source) % 3 + 1) * 10
         ORDER BY source, sample_rank""",
    // Rebuilds the IDENTICAL 3×16 Count-Min counter table (same md5-seeded
    // row hashes), so the approximate estimates hash-match exactly.
    "q58_countmin_heavy" -> {
      def h(i: Int) = s"${duckHash60(s"concat('$i:', term)")} % 16"
      s"""WITH tokens AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         exact AS (SELECT term, count(*) AS exact_cnt FROM tokens GROUP BY term),
         probes AS (SELECT term, exact_cnt FROM exact
                    ORDER BY exact_cnt DESC, term LIMIT 20),
         buckets AS (SELECT 0 AS r, ${h(0)} AS bucket FROM tokens
                     UNION ALL SELECT 1, ${h(1)} FROM tokens
                     UNION ALL SELECT 2, ${h(2)} FROM tokens),
         counters AS (SELECT r, bucket, count(*) AS cnt FROM buckets GROUP BY r, bucket),
         pb AS (SELECT term, 0 AS r, ${h(0)} AS bucket FROM probes
                UNION ALL SELECT term, 1, ${h(1)} FROM probes
                UNION ALL SELECT term, 2, ${h(2)} FROM probes),
         est AS (SELECT pb.term, min(coalesce(c.cnt, 0)) AS cm_estimate
                 FROM pb LEFT JOIN counters c USING (r, bucket) GROUP BY pb.term)
         SELECT p.term, p.exact_cnt, e.cm_estimate
         FROM probes p JOIN est e USING (term)
         ORDER BY exact_cnt DESC, term"""
    },
    // The window row_number twin IS the oracle for the bounded-heap postings
    // head: (tf DESC, doc_id ASC) is topk_by's total order.
    "q63_inverted_index" ->
      """WITH tokens AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                         FROM documents),
         tf AS (SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id),
         ranked AS (SELECT term, doc_id, tf,
                      row_number() OVER (PARTITION BY term
                        ORDER BY tf DESC, doc_id) AS rk
                    FROM tf),
         agg AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf FROM tf GROUP BY term),
         top AS (SELECT term,
                   string_agg(doc_id || ':' || tf, ',' ORDER BY rk) AS postings
                 FROM ranked WHERE rk <= 3 GROUP BY term)
         SELECT term, df, total_tf, postings
         FROM agg JOIN top USING (term) ORDER BY term""",
    "q64_quantize_embed" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         q AS (SELECT vec_id, scale, v,
                 CASE WHEN scale = 0 THEN list_transform(v, x -> 0::BIGINT)
                      ELSE list_transform(v, x -> floor(x / scale + 0.5)::BIGINT)
                 END AS qv
               FROM s)
         SELECT vec_id, round(scale, 6) AS scale,
           list_reduce(list_concat([0::BIGINT], list_transform(qv, x -> abs(x))),
                       (a, b) -> a + b) AS l1_q,
           round(list_reduce(list_concat([0.0::DOUBLE],
                   list_transform(list_zip(v, qv),
                     p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale))),
                 (a, b) -> a + b) / len(v) * 1e6, 4) AS mse_e6
         FROM q ORDER BY vec_id""",
    "q62_repetition" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, ws, len(ws) AS n, len(list_distinct(ws)) AS nd,
                 list_max(list_transform(list_distinct(ws),
                   x -> len(list_filter(ws, y -> y = x)))) AS topcnt,
                 CASE WHEN len(ws) >= 2
                   THEN list_transform(range(0, len(ws) - 1),
                          i -> array_to_string(ws[i+1:i+2], ' '))
                   ELSE [] END AS grams
               FROM s)
         SELECT doc_id, n AS n_words,
                round(1.0 - nd::DOUBLE / n, 4) AS dup_word_frac,
                round(topcnt::DOUBLE / n, 4) AS top_word_frac,
                CASE WHEN len(grams) <= 0 THEN 0.0
                     ELSE round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 4)
                END AS dup_gram_frac
         FROM g ORDER BY doc_id""",
    // Identical JSON string, extracted with DuckDB's JSON functions.
    "q74_json_extract" ->
      """WITH j AS (SELECT '{"id":' || doc_id || ',"lang":"' || lang
                      || '","n":' || n_chars || ',"tags":["' || source
                      || '","t' || (doc_id % 7) || '"]}' AS js
                    FROM documents)
         SELECT json_extract(js, '$.id')::BIGINT AS doc_id,
                json_extract_string(js, '$.lang') AS j_lang,
                json_extract(js, '$.n')::BIGINT AS j_n,
                json_array_length(js, '$.tags') AS n_tags,
                json_extract_string(js, '$.tags[1]') AS tag2
         FROM j ORDER BY doc_id""",
    // q41's transitive closure + q27's quality; argmax via window rank.
    "q73_cluster_survivors" ->
      s"""WITH RECURSIVE
         ws AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT doc_id, ${duckShingles(2)} AS s FROM ws),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.8),
         sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         reach(id, peer) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.id, s.b FROM reach r JOIN sym s ON r.peer = s.a),
         labeled AS (
           SELECT id, least(id, min(peer)) AS component FROM reach GROUP BY id),
         q AS (SELECT doc_id AS id,
                 least(1.0, len(string_split(text, ' ')) / 50.0)
                   * (1.0 - len(list_filter(string_split(text, ' '),
                        w -> w IN ('the', 'a')))::DOUBLE
                      / len(string_split(text, ' '))) AS quality
               FROM documents),
         m AS (SELECT l.id, l.component, q.quality
               FROM labeled l JOIN q ON q.id = l.id),
         best AS (SELECT component, id, quality,
                    row_number() OVER (PARTITION BY component
                      ORDER BY quality DESC, id) AS rn
                  FROM m),
         g AS (SELECT component, count(*) AS n_members,
                 string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
               FROM m GROUP BY component)
         SELECT b.id AS keep_id, round(b.quality, 4) AS best_quality,
                g.n_members, g.members
         FROM g JOIN best b ON b.component = g.component AND b.rn = 1
         ORDER BY keep_id""",
    // Same spans, keep-first via window rank, positional string_agg rebuild.
    "q72_span_dedup" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sp AS (SELECT doc_id, i AS span_idx,
                  array_to_string(ws[i*10+1:i*10+10], ' ') AS txt
                FROM s CROSS JOIN unnest(range((len(ws) - 1) // 10 + 1)) AS t(i)),
         rk AS (SELECT doc_id, span_idx, txt,
                  row_number() OVER (PARTITION BY txt
                    ORDER BY doc_id, span_idx) AS rn
                FROM sp)
         SELECT doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                md5(coalesce(string_agg(CASE WHEN rn = 1 THEN txt END, ' '
                      ORDER BY span_idx), '')) AS clean_md5
         FROM rk GROUP BY doc_id ORDER BY doc_id""",
    // Unrolls the SAME 4 fixed-point iterations — integer floor divisions and
    // exact long sums, so the ranks are bit-identical.
    "q71_pagerank" -> {
      def iter(k: Int) =
        s"""pr$k AS (SELECT n.id, 150000 + COALESCE(x.c, 0) AS pr
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS id, sum((p.pr * 85) // (100 * d.outdeg)) AS c
                FROM edges e JOIN pr${k - 1} p ON p.id = e.src
                             JOIN outdeg d ON d.id = e.src
                GROUP BY e.dst) x USING (id))"""
      s"""WITH pairs AS (SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
                         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT s AS src, c AS dst FROM pairs
                   UNION ALL SELECT c, s FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         outdeg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),
         pr0 AS (SELECT id, 1000000::BIGINT AS pr FROM nodes),
         ${(1 to 4).map(iter).mkString(",\n         ")}
         SELECT id, CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_type,
                CAST(pr AS BIGINT) AS pr
         FROM pr4 ORDER BY pr DESC, id LIMIT 20"""
    },
    // Same interleave arithmetic in DuckDB bit operators.
    "q70_zorder_layout" -> {
      val z = (0 until 8).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH ev AS (SELECT user_id % 256 AS x, hour(ts) AS y FROM events),
         zs AS (SELECT x, y, $z AS z FROM ev)
         SELECT z // 256 AS z_range, count(*) AS n_events,
                min(x) AS min_x, max(x) AS max_x,
                min(y) AS min_y, max(y) AS max_y
         FROM zs GROUP BY 1 ORDER BY z_range"""
    },
    // Rebuilds the IDENTICAL 128-bin histogram; the interpolated quantile
    // estimates hash-match (exact counts, one double interpolation).
    "q68_histogram_quantiles" ->
      """WITH h AS (SELECT event_type AS g,
                      least(greatest(CAST(floor(value / 3.90625) AS BIGINT), 0), 127) AS bin,
                      count(*) AS cnt
                    FROM events GROUP BY 1, 2),
         c AS (SELECT g, bin, cnt,
                 sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
                 sum(cnt) OVER (PARTITION BY g) AS n
               FROM h),
         qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
         pick AS (SELECT g, q, min(bin) AS b
                  FROM c CROSS JOIN qs
                  WHERE cum::DOUBLE >= q * n::DOUBLE GROUP BY g, q)
         SELECT c.g AS event_type, pick.q AS q, CAST(c.n AS BIGINT) AS n,
                round(3.90625 * (c.bin + (pick.q * c.n::DOUBLE -
                        (c.cum - c.cnt)::DOUBLE) / c.cnt::DOUBLE), 4) AS estimate
         FROM pick JOIN c ON c.g = pick.g AND c.bin = pick.b
         ORDER BY event_type, q""",
    // Same rolling hash (Horner with per-step mod == left fold from zero),
    // same boundaries, same chunk digests.
    "q81_cdc_chunks" ->
      """WITH b AS (SELECT doc_id, text, length(text) AS L,
                 CASE WHEN length(text) >= 8 THEN
                   list_transform(range(8, length(text) + 1),
                     i -> list_reduce(list_transform(range(0, 8),
                            k -> ascii(substr(text, (i - 7 + k)::INT, 1))::BIGINT),
                          (acc, c) -> (acc * 31 + c) % 1048576))
                 ELSE [] END AS hs
               FROM documents),
         bd AS (SELECT doc_id, text, L,
                  list_sort(list_distinct(list_concat(list_concat([0::BIGINT],
                    list_filter(range(8, L + 1),
                      i -> hs[(i - 7)::INT] % 32 = 0)), [L::BIGINT]))) AS bs
                FROM b),
         ch AS (SELECT doc_id,
                  unnest(list_transform(range(0, len(bs) - 1),
                    j -> substr(text, (bs[(j + 1)::INT] + 1)::INT,
                           (bs[(j + 2)::INT] - bs[(j + 1)::INT])::INT))) AS chunk
                FROM bd),
         cd AS (SELECT doc_id, md5(chunk) AS cmd5 FROM ch),
         sh AS (SELECT cmd5, count(DISTINCT doc_id) AS n_docs FROM cd GROUP BY cmd5)
         SELECT doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
         FROM cd JOIN sh USING (cmd5)
         GROUP BY doc_id ORDER BY doc_id""",
    "q80_scd2_intervals" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, value
                    FROM events WHERE event_type = 'purchase')
         SELECT user_id, round(value, 4) AS value,
                ts_us AS valid_from,
                lead(ts_us, 1) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS valid_to,
                lead(ts_us, 1) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) IS NULL AS is_current
         FROM p ORDER BY user_id, valid_from, valid_to NULLS LAST, value""",
    // Window twin of the max(struct) compaction: latest (ts, event_id) row
    // per key wins, tombstones drop the key. (ts_us, event_id) is unique
    // per event, so argmax and row_number agree.
    "q99_changelog_compact" ->
      """WITH log AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
                  event_type = 'click' AS is_del, value
                FROM events WHERE event_type IN ('purchase', 'click')),
         r AS (SELECT user_id, ts_us, is_del, value,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts_us DESC, event_id DESC) AS rn
               FROM log)
         SELECT user_id, round(value, 4) AS value, ts_us AS updated_us
         FROM r WHERE rn = 1 AND NOT is_del ORDER BY user_id""",
    // Same sketches, same union-and-count algebra in SQL.
    "q79_kmv_intersect" -> {
      val h = duckHash60("md5(text)")
      s"""WITH ka AS (SELECT h FROM (
             SELECT h, row_number() OVER (ORDER BY h) AS rk FROM (
               SELECT DISTINCT $h AS h FROM documents WHERE doc_id % 2 = 0))
           WHERE rk <= 64),
         kb AS (SELECT h FROM (
             SELECT h, row_number() OVER (ORDER BY h) AS rk FROM (
               SELECT DISTINCT $h AS h FROM documents WHERE doc_id % 3 = 0))
           WHERE rk <= 64),
         ku AS (SELECT h FROM (
             SELECT h, row_number() OVER (ORDER BY h) AS rk FROM (
               SELECT h FROM ka UNION SELECT h FROM kb))
           WHERE rk <= 64),
         stats AS (SELECT count(*) AS n_ku, max(h) AS kth FROM ku),
         rho AS (SELECT count(*) AS c FROM ku
                 WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
         exact AS (SELECT count(DISTINCT md5(text)) AS exact_intersection
                   FROM documents WHERE doc_id % 6 = 0)
         SELECT n_ku AS n_union_hashes, c AS rho_count,
                round(c::DOUBLE / n_ku *
                  (CASE WHEN n_ku < 64 THEN n_ku::DOUBLE
                        ELSE 63.0 * 1152921504606846976 / kth::DOUBLE END), 4)
                  AS est_intersection,
                exact_intersection
         FROM stats, rho, exact"""
    },
    // Global counter table from scratch; Spark merges per-source tables.
    "q77_countmin_merge" -> {
      def h(i: Int) = s"${duckHash60(s"concat('$i:', term)")} % 16"
      s"""WITH tokens AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         exact AS (SELECT term, count(*) AS exact_cnt FROM tokens GROUP BY term),
         probes AS (SELECT term, exact_cnt FROM exact
                    ORDER BY exact_cnt DESC, term LIMIT 10),
         buckets AS (SELECT 0 AS r, ${h(0)} AS bucket FROM tokens
                     UNION ALL SELECT 1, ${h(1)} FROM tokens
                     UNION ALL SELECT 2, ${h(2)} FROM tokens),
         counters AS (SELECT r, bucket, count(*) AS cnt FROM buckets GROUP BY r, bucket),
         pb AS (SELECT term, 0 AS r, ${h(0)} AS bucket FROM probes
                UNION ALL SELECT term, 1, ${h(1)} FROM probes
                UNION ALL SELECT term, 2, ${h(2)} FROM probes),
         est AS (SELECT pb.term, min(coalesce(c.cnt, 0)) AS cm_estimate
                 FROM pb LEFT JOIN counters c USING (r, bucket) GROUP BY pb.term)
         SELECT p.term, p.exact_cnt, e.cm_estimate
         FROM probes p JOIN est e USING (term)
         ORDER BY exact_cnt DESC, term"""
    },
    // Global bottom-16 from scratch; Spark merges the per-source sets.
    "q78_kmv_merge" ->
      s"""WITH tokens AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         hashed AS (SELECT DISTINCT ${duckHash60("term")} AS h FROM tokens),
         bk AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM hashed),
         agg AS (SELECT count(*) AS n_hashes, max(h) AS kth_min
                 FROM bk WHERE rk <= 16)
         SELECT n_hashes, kth_min,
                round(CASE WHEN n_hashes < 16 THEN n_hashes::DOUBLE
                      ELSE 15.0 * 1152921504606846976 / kth_min::DOUBLE END, 4)
                  AS estimate,
                (SELECT count(DISTINCT term) FROM tokens) AS exact_distinct
         FROM agg""",
    // Global registers computed FROM SCRATCH — equality with Spark's merge of
    // the per-type register sets is exactly the merge-correctness statement.
    "q76_hll_merge" -> {
      val alphaNum = graft.operators.Sketches.hllAlphaNum(5)
      s"""WITH items AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
         h AS (SELECT ${duckHash60("item")} AS h FROM items),
         b AS (SELECT h % 32 AS bucket, h // 32 AS w FROM h),
         reg AS (SELECT bucket,
                   max(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END) AS r
                 FROM b GROUP BY bucket),
         agg AS (SELECT count(*) AS n_buckets,
                   sum(1::BIGINT << (56 - r)) AS s_present FROM reg),
         est AS (SELECT n_buckets,
                   $alphaNum / (s_present + (32 - n_buckets) * (1::BIGINT << 56))::DOUBLE AS e_raw,
                   (32 - n_buckets)::DOUBLE AS zeros
                 FROM agg)
         SELECT n_buckets,
                round(CASE WHEN e_raw <= 80.0 AND zeros > 0
                           THEN 32.0 * ln(32.0 / zeros) ELSE e_raw END, 4) AS estimate,
                (SELECT count(DISTINCT item) FROM items) AS exact_distinct
         FROM est"""
    },
    // Rebuilds the IDENTICAL 32 HLL registers (same md5 hashes, same scaled-
    // integer harmonic sum), so the approximate estimate hash-matches exactly.
    "q61_hll_distinct" -> {
      val alphaNum = graft.operators.Sketches.hllAlphaNum(5)
      s"""WITH items AS (SELECT event_type, CAST(user_id AS VARCHAR) AS item FROM events),
         h AS (SELECT event_type, ${duckHash60("item")} AS h FROM items),
         b AS (SELECT event_type, h % 32 AS bucket, h // 32 AS w FROM h),
         reg AS (SELECT event_type, bucket,
                   max(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END) AS r
                 FROM b GROUP BY event_type, bucket),
         agg AS (SELECT event_type, count(*) AS n_buckets,
                   sum(1::BIGINT << (56 - r)) AS s_present
                 FROM reg GROUP BY event_type),
         est AS (SELECT event_type, n_buckets,
                   $alphaNum / (s_present + (32 - n_buckets) * (1::BIGINT << 56))::DOUBLE AS e_raw,
                   (32 - n_buckets)::DOUBLE AS zeros
                 FROM agg),
         exact AS (SELECT event_type, count(DISTINCT item) AS exact_distinct
                   FROM items GROUP BY event_type)
         SELECT e.event_type, exact_distinct, n_buckets,
                round(CASE WHEN e_raw <= 80.0 AND zeros > 0
                           THEN 32.0 * ln(32.0 / zeros) ELSE e_raw END, 4) AS estimate
         FROM est e JOIN exact USING (event_type) ORDER BY event_type"""
    },
    "q55_skew_salted_join" ->
      """WITH p AS (SELECT event_id, user_id % 10 AS uk, value FROM events),
         b AS (SELECT c_custkey % 10 AS uk, c_name FROM customer WHERE c_custkey <= 10)
         SELECT c_name, count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM p JOIN b USING (uk) GROUP BY c_name ORDER BY c_name""",
    "q48_top_terms" ->
      """WITH tokens AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
                         FROM documents),
         tf AS (SELECT source, term, count(*) AS tf FROM tokens GROUP BY source, term),
         df AS (SELECT term, count(*) AS df
                FROM (SELECT DISTINCT doc_id, term FROM tokens) GROUP BY term)
         SELECT source, rank, term, tf, df FROM (
           SELECT source, term, tf, df,
                  row_number() OVER (PARTITION BY source
                    ORDER BY tf::DOUBLE / df::DOUBLE DESC, term) AS rank
           FROM tf JOIN df USING (term))
         WHERE rank <= 5 ORDER BY source, rank""",
    "q49_label_centroids" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
         d AS (SELECT unnest(range(0, 64)) AS dim),
         x AS (SELECT label, dim, v[dim + 1] AS comp FROM e CROSS JOIN d)
         SELECT label, dim, round(avg(comp), 6) AS mean_val, count(*) AS n_vecs
         FROM x GROUP BY label, dim ORDER BY label, dim""",
    "q37_multimodal_features" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS content_md5,
         CAST(coalesce(list_sum(list_transform(
                range(1, least(octet_length(encode(text)), 16) + 1),
                i -> CAST(concat('0x', substr(hex(encode(text)), 2*i-1, 2)) AS BIGINT))),
              0) AS BIGINT) AS head_checksum,
         CAST(n_chars % 64 + 16 AS INT) AS width,
         CAST(n_chars % 48 + 12 AS INT) AS height
         FROM documents ORDER BY doc_id""",
    // Recomputes the REAL decoders' outputs from the text bytes that seeded
    // the payloads: pixel j = byte[j mod L] (PPM), sample i = byte[i]*257 -
    // 32768 (WAV PCM16). Integer-only features — no float tolerance; CASTs
    // guard the DuckDB HUGEINT sums.
    "q47_media_decode" ->
      """WITH t AS (SELECT doc_id, octet_length(encode(text)) AS L,
                           hex(encode(text)) AS hx
                    FROM documents WHERE octet_length(encode(text)) > 0),
         b AS (SELECT doc_id, L,
                 list_transform(range(1, L+1),
                   i -> CAST(concat('0x', substr(hx, 2*i-1, 2)) AS BIGINT)) AS tb
               FROM t),
         img AS (
           SELECT doc_id, 'image' AS modality,
             CAST((L % 16 + 8) * (L % 12 + 6) AS BIGINT) AS n_units,
             CAST(list_sum(list_transform(range(0, (L % 16 + 8) * (L % 12 + 6)),
                    p -> tb[((3*p) % L) + 1])) AS BIGINT) AS feat_a,
             CAST(list_sum(list_transform(range(0, (L % 16 + 8) * (L % 12 + 6)),
                    p -> tb[((3*p + 1) % L) + 1])) AS BIGINT) AS feat_b
           FROM b WHERE doc_id % 3 = 0),
         aud AS (
           SELECT doc_id, 'audio' AS modality,
             CAST(least(L, 256) AS BIGINT) AS n_units,
             CAST(list_sum(list_transform(range(0, least(L, 256)),
                    i -> abs(tb[i+1] * 257 - 32768))) AS BIGINT) AS feat_a,
             CAST(list_max(list_transform(range(0, least(L, 256)),
                    i -> abs(tb[i+1] * 257 - 32768))) AS BIGINT) AS feat_b
           FROM b WHERE doc_id % 3 = 1)
         SELECT * FROM img UNION ALL SELECT * FROM aud ORDER BY doc_id""",
    "q66_stream_interval_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, value FROM events
               WHERE event_type = 'purchase')
         SELECT click_id, count(*) AS n_purchases,
                round(sum(value), 4) AS sum_pvalue
         FROM c JOIN p ON c.user_id = p.user_id
           AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 60 MINUTE
         GROUP BY click_id ORDER BY click_id""",
    // Recomputes every SAMPLED frame's pixel sum from the text bytes (pixel j
    // of frame f = byte (j + 7f) mod L) — gating the whole encode → concat →
    // stream-parse → sample → decode cycle.
    "q65_frame_sample" ->
      """WITH t AS (SELECT doc_id, octet_length(encode(text)) AS L,
                           hex(encode(text)) AS hx
                    FROM documents
                    WHERE octet_length(encode(text)) > 0 AND doc_id % 3 = 2),
         b AS (SELECT doc_id, L,
                 list_transform(range(1, L+1),
                   i -> CAST(concat('0x', substr(hx, 2*i-1, 2)) AS BIGINT)) AS tb,
                 L % 4 + 2 AS nf, L % 8 + 4 AS w, L % 6 + 3 AS h
               FROM t),
         f AS (SELECT doc_id, L, tb, w, h, unnest(range(0, nf)) AS frame FROM b)
         SELECT doc_id, CAST(frame AS INT) AS frame,
                CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST(list_sum(list_transform(range(0, 3*w*h),
                       j -> tb[((j + 7*frame) % L) + 1])) AS BIGINT) AS sum_rgb
         FROM f WHERE frame % 2 = 0 ORDER BY doc_id, frame""",
    // Each event contributes to exactly two 1h/30min hopping windows: the
    // 30-min-aligned start at-or-before it, and that minus 30 minutes.
    "q75_hopping_windows" ->
      """WITH ev AS (SELECT event_type, value,
                            epoch_ns(ts) // 1000 AS tus FROM events),
         w AS (SELECT event_type, value,
                 unnest([(tus // 1800000000) * 1800000000,
                         (tus // 1800000000) * 1800000000 - 1800000000]) AS win_us
               FROM ev)
         SELECT win_us, event_type, count(*) AS n_events,
                round(sum(value), 4) AS sum_value
         FROM w GROUP BY win_us, event_type ORDER BY win_us, event_type""",
    "q38_windowed_events" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_us, event_type,
         count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY win_us, event_type""",

    // Same three keyed first-event aggregations; stage windows as filters.
    "q82_funnel_conversion" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
         v AS (SELECT user_id, min(us) AS v_us FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT ev.user_id, min(ev.us) AS c_us
               FROM ev JOIN v ON ev.user_id = v.user_id
               WHERE ev.event_type = 'click'
                 AND ev.us >= v.v_us AND ev.us <= v.v_us + 3600000000
               GROUP BY ev.user_id),
         p AS (SELECT ev.user_id, min(ev.us) AS p_us
               FROM ev JOIN c ON ev.user_id = c.user_id
               WHERE ev.event_type = 'purchase'
                 AND ev.us >= c.c_us AND ev.us <= c.c_us + 3600000000
               GROUP BY ev.user_id)
         SELECT count(*) AS n_view, count(c.c_us) AS n_click, count(p.p_us) AS n_purchase
         FROM v LEFT JOIN c ON v.user_id = c.user_id
                LEFT JOIN p ON v.user_id = p.user_id""",

    // Same integer day/week floor divisions.
    "q83_cohort_retention" ->
      """WITH ev AS (SELECT user_id, (epoch_ns(ts) // 1000) // 86400000000 AS day FROM events),
         c0 AS (SELECT user_id, min(day) AS day0 FROM ev GROUP BY user_id),
         cells AS (SELECT DISTINCT user_id, day0 // 7 AS cohort_week, (day - day0) // 7 AS k
                   FROM ev JOIN c0 USING (user_id))
         SELECT cohort_week, k, count(*) AS n_users
         FROM cells GROUP BY cohort_week, k ORDER BY cohort_week, k""",

    // Same integer inequality — the window sums are CAST back to BIGINT
    // (DuckDB widens window sums to HUGEINT; exact either way).
    "q88_rolling_anomaly" ->
      """WITH ev AS (SELECT event_type, event_id, epoch_ns(ts) // 1000 AS us,
                       CAST(round(value * 100) AS BIGINT) AS v_fp FROM events),
         st AS (SELECT event_type, v_fp,
                  CAST(count(*) OVER w AS BIGINT) AS n,
                  CAST(sum(v_fp) OVER w AS BIGINT) AS sv,
                  CAST(sum(v_fp * v_fp) OVER w AS BIGINT) AS svv
                FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
                                     ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
         SELECT event_type, count(*) AS n_scored,
                CAST(sum(CASE WHEN (n*v_fp - sv)*(n*v_fp - sv)*(n - 1)
                                   > 9*n*(n*svv - sv*sv)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
         FROM st WHERE n >= 30
         GROUP BY event_type ORDER BY event_type""",

    // Same fixed-point smoothing: (1e6·(c12+1)) // (c1+V), integer-averaged.
    "q84_bigram_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         bg AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
                FROM w CROSS JOIN unnest(range(len(ws) - 1)) AS t(i)
                WHERE len(ws) >= 2),
         uni AS (SELECT unnest(string_split(text, ' ')) AS w1 FROM documents),
         c1t AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY w1),
         vocab AS (SELECT count(*) AS vv FROM c1t),
         c12t AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         scored AS (SELECT doc_id, (1000000::BIGINT * (c12 + 1)) // (c1 + vv) AS p_fp
                    FROM bg JOIN c12t USING (w1, w2) JOIN c1t USING (w1) CROSS JOIN vocab)
         SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(p_fp) AS BIGINT) // count(*) AS avg_p_fp
         FROM scored GROUP BY doc_id ORDER BY doc_id""",

    "q85_bm25_search" -> {
      s"""WITH ${duckBm25(searchTerms)}
         SELECT doc_id, score_fp, n_terms FROM bm25
         ORDER BY score_fp DESC, doc_id LIMIT 10"""
    },

    // Same first-occurrence attribution over distinct bigrams.
    "q86_ngram_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         bgd AS (SELECT DISTINCT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
                 FROM w CROSS JOIN unnest(range(len(ws) - 1)) AS t(i)
                 WHERE len(ws) >= 2),
         first_t AS (SELECT w1, w2, min(doc_id) AS first_doc FROM bgd GROUP BY w1, w2),
         agg AS (SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                 FROM bgd JOIN first_t USING (w1, w2) GROUP BY doc_id)
         SELECT doc_id, n_bigrams, n_novel,
                (1000000::BIGINT * n_novel) // n_bigrams AS novelty_fp
         FROM agg ORDER BY doc_id""",

    // Same two retriever rankings (ranks identical on the shared total
    // orders), same integer RRF contributions.
    "q89_rrf_fusion" -> {
      s"""WITH ${duckBm25(searchTerms)},
         lexr AS (SELECT doc_id, CAST(rn AS BIGINT) AS ra FROM (
                    SELECT doc_id, row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rn
                    FROM bm25)
                  WHERE rn <= 100),
         qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
         ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0),
         cosr AS (SELECT doc_id, CAST(rn AS BIGINT) AS rb FROM (
                    SELECT ev.vec_id AS doc_id,
                           row_number() OVER (ORDER BY ${duckCos("v", "q")} DESC, ev.vec_id) AS rn
                    FROM ev CROSS JOIN qv)
                  WHERE rn <= 100)
         SELECT COALESCE(lexr.doc_id, cosr.doc_id) AS doc_id, ra, rb,
                COALESCE(1000000 // (60 + ra), 0) + COALESCE(1000000 // (60 + rb), 0) AS rrf_fp
         FROM lexr FULL OUTER JOIN cosr ON lexr.doc_id = cosr.doc_id
         ORDER BY rrf_fp DESC, doc_id LIMIT 20"""
    },

    // The oracle rebuilds the SAME corpus (base images + planted %15 twins,
    // first char edited, id + 999999) and the SAME 64-bit block-sum aHash
    // from the source text bytes (pixels are the text tiled, the q47
    // discipline; corpus is ASCII so ascii(substr) == byte), column-major
    // bit layout — then the FULL quadratic pair scan; the banded Spark path
    // must recall every pair (pigeonhole theorem).
    "q90_image_phash_neardup" ->
      """WITH src AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 999999 AS doc_id, 'Z' || substr(text, 2) AS text
           FROM documents
           WHERE doc_id % 3 = 0 AND doc_id % 5 = 0 AND strlen(text) > 0),
         im AS (SELECT doc_id, text, strlen(text) AS L,
                  strlen(text) % 16 + 8 AS w, strlen(text) % 12 + 6 AS h
                FROM src WHERE doc_id % 3 = 0 AND strlen(text) > 0),
         px AS (SELECT doc_id, w, h,
                  ascii(substr(text, ((3*i) % L) + 1, 1)) +
                  ascii(substr(text, ((3*i + 1) % L) + 1, 1)) +
                  ascii(substr(text, ((3*i + 2) % L) + 1, 1)) AS g,
                  (i % w) AS x, (i // w) AS y
                FROM im CROSS JOIN unnest(range(w * h)) AS t(i)),
         cells AS (SELECT doc_id, (y * 8) // h AS gy, (x * 8) // w AS gx,
                     CAST(sum(g) AS BIGINT) AS cs, count(*) AS cn
                   FROM px GROUP BY doc_id, (y * 8) // h, (x * 8) // w),
         tot AS (SELECT doc_id, CAST(sum(g) AS BIGINT) AS ts, count(*) AS tn
                 FROM px GROUP BY doc_id),
         -- bit 63 is Long's sign bit: DuckDB range-checks 1 << 63, so it is
         -- encoded as the two's-complement constant; the HUGEINT sum of one
         -- -2^63 term plus sub-2^63 positives lands back in BIGINT exactly
         ph AS (SELECT c.doc_id,
                  CAST(sum(CASE WHEN c.cs * t.tn <= t.ts * c.cn THEN 0
                                WHEN c.gx * 8 + c.gy = 63 THEN -9223372036854775808
                                ELSE 1::BIGINT << (c.gx * 8 + c.gy) END) AS BIGINT) AS phash
                FROM cells c JOIN tot t USING (doc_id) GROUP BY c.doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS ham
         FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.phash, b.phash)) <= 6
         ORDER BY id_a, id_b""",

    // q90's phash derivation over the extended corpus (edited twins %15 +
    // byte-identical copies %21), with the collapsed-candidate semantics:
    // identical-phash classes emit (rep, member) star edges; near-dup
    // pairs enumerate over the DISTINCT-hash representatives only.
    "q169_collapsed_phash_neardup" ->
      """WITH src AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 999999 AS doc_id, 'Z' || substr(text, 2) AS text
           FROM documents
           WHERE doc_id % 3 = 0 AND doc_id % 5 = 0 AND strlen(text) > 0
           UNION ALL
           SELECT doc_id + 1999998 AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0 AND doc_id % 7 = 0 AND strlen(text) > 0),
         im AS (SELECT doc_id, text, strlen(text) AS L,
                  strlen(text) % 16 + 8 AS w, strlen(text) % 12 + 6 AS h
                FROM src WHERE doc_id % 3 = 0 AND strlen(text) > 0),
         px AS (SELECT doc_id, w, h,
                  ascii(substr(text, ((3*i) % L) + 1, 1)) +
                  ascii(substr(text, ((3*i + 1) % L) + 1, 1)) +
                  ascii(substr(text, ((3*i + 2) % L) + 1, 1)) AS g,
                  (i % w) AS x, (i // w) AS y
                FROM im CROSS JOIN unnest(range(w * h)) AS t(i)),
         cells AS (SELECT doc_id, (y * 8) // h AS gy, (x * 8) // w AS gx,
                     CAST(sum(g) AS BIGINT) AS cs, count(*) AS cn
                   FROM px GROUP BY doc_id, (y * 8) // h, (x * 8) // w),
         tot AS (SELECT doc_id, CAST(sum(g) AS BIGINT) AS ts, count(*) AS tn
                 FROM px GROUP BY doc_id),
         ph AS (SELECT c.doc_id,
                  CAST(sum(CASE WHEN c.cs * t.tn <= t.ts * c.cn THEN 0
                                WHEN c.gx * 8 + c.gy = 63 THEN -9223372036854775808
                                ELSE 1::BIGINT << (c.gx * 8 + c.gy) END) AS BIGINT) AS phash
                FROM cells c JOIN tot t USING (doc_id) GROUP BY c.doc_id),
         reps AS (SELECT phash, min(doc_id) AS rep FROM ph GROUP BY phash),
         stars AS (SELECT r.rep AS id_a, p.doc_id AS id_b, 0::BIGINT AS ham
                   FROM ph p JOIN reps r ON p.phash = r.phash
                   WHERE p.doc_id <> r.rep),
         rp AS (SELECT a.rep AS id_a, b.rep AS id_b,
                  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS ham
                FROM reps a JOIN reps b ON a.rep < b.rep
                WHERE bit_count(xor(a.phash, b.phash)) <= 6)
         SELECT id_a, id_b, ham FROM stars
         UNION ALL
         SELECT id_a, id_b, ham FROM rp
         ORDER BY id_a, id_b""",

    // Same subspace distances (identical left-fold order), same argmin
    // tie-break toward the lowest centroid id via (dist, cid) ordering.
    "q87_pq_assign" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         d1 AS (SELECT e.vec_id, c.cid,
                  list_reduce(list_concat([0.0::DOUBLE],
                    list_transform(list_zip(e.v[1:32], c.cv[1:32]),
                      p -> (p[1] - p[2]) * (p[1] - p[2]))),
                    (x, y) -> x + y) AS dd
                FROM e CROSS JOIN cents c),
         d2 AS (SELECT e.vec_id, c.cid,
                  list_reduce(list_concat([0.0::DOUBLE],
                    list_transform(list_zip(e.v[33:64], c.cv[33:64]),
                      p -> (p[1] - p[2]) * (p[1] - p[2]))),
                    (x, y) -> x + y) AS dd
                FROM e CROSS JOIN cents c),
         p1 AS (SELECT vec_id, cid AS cell1, dd AS e1 FROM (
                  SELECT vec_id, cid, dd,
                         row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
                  FROM d1) WHERE rn = 1),
         p2 AS (SELECT vec_id, cid AS cell2, dd AS e2 FROM (
                  SELECT vec_id, cid, dd,
                         row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
                  FROM d2) WHERE rn = 1)
         SELECT cell1, cell2, count(*) AS n_vecs,
                round(min(e1 + e2), 6) AS min_err, round(max(e1 + e2), 6) AS max_err
         FROM p1 JOIN p2 USING (vec_id)
         GROUP BY cell1, cell2 ORDER BY cell1, cell2""",

    // The identical IVF-PQ index rebuilt relationally: same coarse cells
    // (the shared two-level assignment chain — VERDICT r14 #2), same
    // sub-codebook codes (q87's L2 argmin), and the ADC score re-derived
    // through the same per-query lookup rows — the approximate distances
    // themselves hash-match.
    "q98_ivfpq_adc" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ${duckTwoLevelAssign(64)},
         cb AS (SELECT vec_id AS cid, v AS cbv FROM e WHERE vec_id < 16),
         c1 AS (SELECT vec_id, cid AS code1 FROM (
                  SELECT e.vec_id, cb.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                                            ORDER BY ${duckD2("e.v[1:32]", "cb.cbv[1:32]")}, cb.cid) AS rn
                  FROM e CROSS JOIN cb) WHERE rn = 1),
         c2 AS (SELECT vec_id, cid AS code2 FROM (
                  SELECT e.vec_id, cb.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                                            ORDER BY ${duckD2("e.v[33:64]", "cb.cbv[33:64]")}, cb.cid) AS rn
                  FROM e CROSS JOIN cb) WHERE rn = 1),
         probes AS (
           SELECT query_id, cid AS cell FROM (
             SELECT q.vec_id AS query_id, c.cid,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY ${duckCos("q.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e q CROSS JOIN cent c WHERE q.vec_id % 100 = 0) WHERE rn <= 3),
         l1 AS (SELECT q.vec_id AS query_id, cb.cid,
                       ${duckD2("q.v[1:32]", "cb.cbv[1:32]")} AS ld
                FROM e q CROSS JOIN cb WHERE q.vec_id % 100 = 0),
         l2 AS (SELECT q.vec_id AS query_id, cb.cid,
                       ${duckD2("q.v[33:64]", "cb.cbv[33:64]")} AS ld
                FROM e q CROSS JOIN cb WHERE q.vec_id % 100 = 0),
         scored AS (
           SELECT p.query_id, a.vec_id AS neighbor_id, l1.ld + l2.ld AS adc
           FROM assigned a JOIN probes p USING (cell)
           JOIN c1 ON c1.vec_id = a.vec_id
           JOIN c2 ON c2.vec_id = a.vec_id
           JOIN l1 ON l1.query_id = p.query_id AND l1.cid = c1.code1
           JOIN l2 ON l2.query_id = p.query_id AND l2.cid = c2.code2
           WHERE a.vec_id != p.query_id)
         SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc FROM (
           SELECT query_id, neighbor_id, adc,
                  row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rank
           FROM scored) WHERE rank <= 5
         ORDER BY query_id, rank""",

    // The artifact path changes WHERE the codes live, not what they are:
    // the same train-free models encode both the day-0 half and the day-1
    // append, so the oracle rebuilds the logical index over all vectors
    // and replays the q162 probe set (nprobe=2, k=4, vec_id % 50).
    "q162_ivfpq_from_index" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ${duckTwoLevelAssign(64)},
         cb AS (SELECT vec_id AS cid, v AS cbv FROM e WHERE vec_id < 16),
         c1 AS (SELECT vec_id, cid AS code1 FROM (
                  SELECT e.vec_id, cb.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                                            ORDER BY ${duckD2("e.v[1:32]", "cb.cbv[1:32]")}, cb.cid) AS rn
                  FROM e CROSS JOIN cb) WHERE rn = 1),
         c2 AS (SELECT vec_id, cid AS code2 FROM (
                  SELECT e.vec_id, cb.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                                            ORDER BY ${duckD2("e.v[33:64]", "cb.cbv[33:64]")}, cb.cid) AS rn
                  FROM e CROSS JOIN cb) WHERE rn = 1),
         probes AS (
           SELECT query_id, cid AS cell FROM (
             SELECT q.vec_id AS query_id, c.cid,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY ${duckCos("q.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e q CROSS JOIN cent c WHERE q.vec_id % 50 = 0) WHERE rn <= 2),
         l1 AS (SELECT q.vec_id AS query_id, cb.cid,
                       ${duckD2("q.v[1:32]", "cb.cbv[1:32]")} AS ld
                FROM e q CROSS JOIN cb WHERE q.vec_id % 50 = 0),
         l2 AS (SELECT q.vec_id AS query_id, cb.cid,
                       ${duckD2("q.v[33:64]", "cb.cbv[33:64]")} AS ld
                FROM e q CROSS JOIN cb WHERE q.vec_id % 50 = 0),
         scored AS (
           SELECT p.query_id, a.vec_id AS neighbor_id, l1.ld + l2.ld AS adc
           FROM assigned a JOIN probes p USING (cell)
           JOIN c1 ON c1.vec_id = a.vec_id
           JOIN c2 ON c2.vec_id = a.vec_id
           JOIN l1 ON l1.query_id = p.query_id AND l1.cid = c1.code1
           JOIN l2 ON l2.query_id = p.query_id AND l2.cid = c2.code2
           WHERE a.vec_id != p.query_id)
         SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc FROM (
           SELECT query_id, neighbor_id, adc,
                  row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rank
           FROM scored) WHERE rank <= 4
         ORDER BY query_id, rank""",

    // The SAME 8 BPE rounds, loop-unrolled: per round, pair counts from the
    // wrapped `(sym)(sym)` encoding, argmax (count desc, pair asc), one
    // left-to-right non-overlapping replace — DuckDB's `replace` scans
    // exactly like Spark's, and `(` only ever starts a symbol, so the
    // literal pattern is boundary-exact (see Bpe.scala).
    "q93_bpe_merges" -> duckBpe(rounds = 8, vocab = 1000),

    // Learning stages shared with q93; the apply tail re-derives the same
    // wrapped encoding over ALL words (1-char ones included — they take no
    // merges) and counts `(` per document.
    "q95_bpe_tokenize" -> duckBpeTokenize(rounds = 8, vocab = 1000),

    // Same ×1e6 fixed-point quality surrogate, same strict-prefix window.
    "q96_token_budget_mix" ->
      """WITH q AS (SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                    w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop
             FROM documents),
         f AS (SELECT doc_id, source, n_tokens,
               (1000000 * least(n_tokens, 50) * (n_tokens - n_stop))
                 // (50 * n_tokens) AS quality_fp
             FROM q),
         c AS (SELECT doc_id, source, quality_fp, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY quality_fp DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             FROM f)
         SELECT doc_id, source, quality_fp, n_tokens, cum_tokens
         FROM c WHERE cum_tokens <= 1024 ORDER BY doc_id""",

    // The quadratic scan restricted to cross-boundary pairs — the banded
    // one-sided join must recall every (new, existing) pair.
    "q97_incremental_neardup" ->
      s"""${withDocShingles(2, "TRUE")},
         m AS (SELECT (max(doc_id) + 1) // 2 AS half FROM documents)
         SELECT a.doc_id AS a, b.doc_id AS b, $duckJac AS jac
         FROM sh a JOIN sh b
           ON a.doc_id >= (SELECT half FROM m) AND b.doc_id < (SELECT half FROM m)
         WHERE $duckJac >= 0.8 ORDER BY a, b""",

    // Next-fit is a sequential fold — the oracle replays it as a recursive
    // CTE stepping each worker's rows in id order.
    "q94_seq_packing" ->
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id % 8 AS worker,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
             FROM documents),
         pack AS (
           SELECT worker, rn, doc_id, n_tokens,
                  CAST(0 AS BIGINT) AS bin, n_tokens AS fill
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.worker, d.rn, d.doc_id, d.n_tokens,
                  CASE WHEN p.fill + d.n_tokens <= 512 THEN p.bin ELSE p.bin + 1 END,
                  CASE WHEN p.fill + d.n_tokens <= 512 THEN p.fill + d.n_tokens ELSE d.n_tokens END
           FROM pack p JOIN d ON d.worker = p.worker AND d.rn = p.rn + 1)
         SELECT doc_id, CAST(worker AS BIGINT) AS worker, bin, n_tokens
         FROM pack ORDER BY doc_id""",

    // Both SemDeDup twins share [[semDedupTwoLevelSql]]: q100 at the
    // production coarseN = 64 (degenerate below ~sf1.0, hierarchical above),
    // q168 at coarseN = 2 so the two-level path is oracle-exercised at
    // every sf.
    "q100_semantic_dedup" -> semDedupTwoLevelSql(coarseN = 64),

    "q168_semantic_dedup_2level" -> semDedupTwoLevelSql(coarseN = 2),

    "q101_split_assign" ->
      s"""WITH b AS (
           SELECT source,
                  ${duckHash60("'split:' || md5(text)")} % 100 AS bucket,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  md5(text) AS digest
           FROM documents)
         SELECT CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'val'
                     ELSE 'test' END AS split,
                source, count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                count(DISTINCT digest) AS n_uniq
         FROM b GROUP BY 1, 2 ORDER BY split, source""",

    // Same staged integer divisions as the Spark side (`//` = `div`), so the
    // fixed-point PMI ranking is identical bits.
    "q102_pmi_collocations" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t),
         ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         bi AS (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM (
             SELECT unnest(list_transform(range(0, len(ws) - 1),
                      i -> struct_pack(w1 := ws[i+1], w2 := ws[i+2])), recursive := true)
             FROM ws WHERE len(ws) >= 2)
           GROUP BY w1, w2 HAVING count(*) >= 3)
         SELECT w1, w2, c_ab,
                ((c_ab * 1000000) // a.c) * 1000000 // b.c AS pmi_fp
         FROM bi JOIN uni a ON bi.w1 = a.t JOIN uni b ON bi.w2 = b.t
         ORDER BY pmi_fp DESC, w1 ASC, w2 ASC LIMIT 20""",

    // Same integer priority arithmetic (`//` = `div`, `&` = bitwiseAND).
    "q103_priority_sample" ->
      s"""WITH p AS (
           SELECT doc_id, n_chars AS weight,
                  ${duckHash60("'ps:' || CAST(doc_id AS VARCHAR)")} & 1073741823 AS h30
           FROM documents)
         SELECT doc_id, weight,
                (weight * 1000000000) // (h30 + 1) AS priority_fp
         FROM p ORDER BY priority_fp DESC, doc_id ASC LIMIT 64""",

    // DuckDB's range(0, n, 48) = Spark's sequence(0, n-1, 48) (multiples of
    // 48 strictly below n); 1-based inclusive list slices clamp like Spark's
    // slice(w, start+1, 64).
    "q104_token_windows" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         win AS (
           SELECT doc_id, len(w) AS n, w, unnest(range(0, len(w), 48)) AS start
           FROM ws)
         SELECT doc_id, start, start // 48 AS win_id,
                least(64, n - start) AS n_tok,
                md5(array_to_string(w[start+1 : least(start+64, n)], ' ')) AS win_md5
         FROM win ORDER BY doc_id, win_id""",

    // Same 4096-bucket bigram hash, same +1-smoothed integer count ratio
    // (`//` = `div`). fb feeds three aggregations → MATERIALIZED.
    "q105_dsir_weights" ->
      s"""WITH ws AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         fb AS MATERIALIZED (
           SELECT doc_id, lang,
                  ${duckHash60("'dsir:' || g")} % 4096 AS b
           FROM (SELECT doc_id, lang,
                        unnest(list_transform(range(0, len(w) - 1),
                                 i -> w[i+1] || ' ' || w[i+2])) AS g
                 FROM ws WHERE len(w) >= 2)),
         r AS (
           SELECT b,
                  (1000000 * (CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) + 1))
                    // (CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) + 1) AS r_fp
           FROM fb GROUP BY b
           HAVING CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) > 0),
         dc AS (
           SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
           FROM fb WHERE lang <> 'en' GROUP BY doc_id, b)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                CAST(sum(c * r_fp) AS BIGINT) AS weight_fp
         FROM dc JOIN r USING (b)
         GROUP BY doc_id
         ORDER BY weight_fp DESC, doc_id ASC LIMIT 64""",

    // Same 8-word chunking, md5 census, and fixed-point dup fraction.
    // ch feeds both the census and the per-doc charge → MATERIALIZED.
    "q106_paragraph_dedup" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         ch AS MATERIALIZED (
           SELECT doc_id, least(8, len(w) - st) AS ntok,
                  md5(array_to_string(w[st+1 : least(st+8, len(w))], ' ')) AS dg
           FROM (SELECT doc_id, w, unnest(range(0, len(w), 8)) AS st FROM ws)),
         census AS (SELECT dg, CAST(count(*) AS BIGINT) AS occ FROM ch GROUP BY dg)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(sum(ntok) AS BIGINT) AS tot_tok,
                CAST(sum(CASE WHEN occ >= 2 THEN ntok ELSE 0 END) AS BIGINT) AS dup_tok,
                CAST((1000000 * sum(CASE WHEN occ >= 2 THEN ntok ELSE 0 END)) // sum(ntok) AS BIGINT) AS dup_fp,
                (1000000 * CAST(sum(CASE WHEN occ >= 2 THEN ntok ELSE 0 END) AS BIGINT))
                  // CAST(sum(ntok) AS BIGINT) < 300000 AS keep
         FROM ch JOIN census USING (dg)
         GROUP BY doc_id ORDER BY doc_id""",

    // Three unrolled Lloyd rounds, every stage MATERIALIZED (the BPE-oracle
    // memory lesson). floor (not CAST — DuckDB rounds, Spark truncates) for
    // the 1e6 fixed-point lift; `//` = `div` truncation matches Spark on the
    // possibly-negative coordinate sums; argmin tie-break (d2, cluster) via
    // the row_number window; a cluster with no members drops out, exactly as
    // the Spark side's collect-and-rebuild does.
    "q107_kmeans_lloyd" -> {
      def round(i: Int, prev: String): String =
        s"""a$i AS MATERIALIZED (
           SELECT vec_id, cluster FROM (
             SELECT e.vec_id, c.cluster,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      list_reduce(list_concat([CAST(0 AS BIGINT)],
                        list_transform(list_zip(e.vfp, c.vfp),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
                        (x, y) -> x + y) ASC, c.cluster ASC) AS rn
             FROM e CROSS JOIN $prev c)
           WHERE rn = 1),
         u$i AS MATERIALIZED (
           SELECT cluster, j AS dim,
                  CAST(sum(e.vfp[j + 1]) // count(*) AS BIGINT) AS mean_fp,
                  CAST(count(*) AS BIGINT) AS n_members
           FROM a$i JOIN e USING (vec_id) CROSS JOIN range(0, 64) r(j)
           GROUP BY cluster, j),
         c$i AS MATERIALIZED (
           SELECT cluster, list(mean_fp ORDER BY dim) AS vfp
           FROM u$i GROUP BY cluster)"""
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS vfp
           FROM embeddings),
         c0 AS MATERIALIZED (
           SELECT vec_id AS cluster, vfp FROM e WHERE vec_id < 8),
         ${round(1, "c0")},
         ${round(2, "c1")},
         ${round(3, "c2")}
         SELECT cluster, dim, mean_fp, n_members
         FROM u3 ORDER BY cluster, dim"""
    },

    // Same fixed-point prototypes (floor lift, `//` = `div` mean), same
    // (d2, label) argmin tie-break via row_number.
    "q108_centroid_classify" ->
      """WITH e AS MATERIALIZED (
           SELECT vec_id, label,
                  list_transform(embedding,
                    x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS vfp
           FROM embeddings),
         c AS MATERIALIZED (
           SELECT label AS l, list(m ORDER BY j) AS cfp FROM (
             SELECT label, j, CAST(sum(vfp[j + 1]) // count(*) AS BIGINT) AS m
             FROM e CROSS JOIN range(0, 64) r(j)
             GROUP BY label, j)
           GROUP BY label),
         a AS (
           SELECT vec_id, label, pred FROM (
             SELECT e.vec_id, e.label, c.l AS pred,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      list_reduce(list_concat([CAST(0 AS BIGINT)],
                        list_transform(list_zip(e.vfp, c.cfp),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
                        (x, y) -> x + y) ASC, c.l ASC) AS rn
             FROM e CROSS JOIN c)
           WHERE rn = 1)
         SELECT label, pred, CAST(count(*) AS BIGINT) AS n
         FROM a GROUP BY label, pred ORDER BY label, pred""",

    // Same 8-word chunk digests; the distinct (source, digest) presence
    // self-joined on the digest enumerates exactly the sorted-set pairs the
    // Spark side builds from collect_set.
    "q109_source_overlap" ->
      """WITH ws AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         ch AS MATERIALIZED (
           SELECT DISTINCT source,
                  md5(array_to_string(w[st+1 : least(st+8, len(w))], ' ')) AS dg
           FROM (SELECT source, w, unnest(range(0, len(w), 8)) AS st FROM ws))
         SELECT a.source AS src_a, b.source AS src_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM ch a JOIN ch b ON a.dg = b.dg AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // q35's brute-force scan plus the label inequality; same cosine fold and
    // rounding, same (cos DESC, neighbor ASC) rank order.
    "q110_hard_negatives" ->
      s"""WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT vec_id, label, v FROM c
                    ORDER BY ${duckHash60("'q110:' || CAST(vec_id AS VARCHAR)")}, vec_id
                    LIMIT 256),
              scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ${duckCos("c.v", "q.v")} AS cos
                FROM c JOIN q ON c.vec_id != q.vec_id AND c.label != q.label)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
         WHERE rank <= 5 ORDER BY query_id, rank""",

    // Same token/char scalars, one distinct-token census, same fixed-point
    // densities. tok feeds both summaries → MATERIALIZED.
    "q111_corpus_datasheet" ->
      """WITH tok AS MATERIALIZED (
           SELECT source, lang, string_split(text, ' ') AS w,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
                  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT) AS nc
           FROM documents),
         vols AS (
           SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(nt) AS BIGINT) AS n_tokens,
                  CAST(sum(nc) AS BIGINT) AS n_chars
           FROM tok GROUP BY source, lang),
         vocab AS (
           SELECT source, lang, CAST(count(DISTINCT t) AS BIGINT) AS n_uniq_tokens
           FROM (SELECT source, lang, unnest(w) AS t FROM tok)
           GROUP BY source, lang)
         SELECT source, lang, n_docs, n_tokens, n_uniq_tokens,
                (1000000 * n_tokens) // n_docs AS tokens_per_doc_fp,
                (1000000 * n_chars) // n_tokens AS chars_per_token_fp,
                (1000000 * n_uniq_tokens) // n_tokens AS ttr_fp
         FROM vols JOIN vocab USING (source, lang)
         ORDER BY source, lang""",

    // The identical Kirsch-Mitzenmacher signature bits (hash60 % P bases,
    // sig[i] = min (b1 + i·b2) mod P), q31's exact pairs, integer match
    // count — so est_fp is engine-exact alongside the shared jac formula.
    "q112_minhash_calibration" ->
      s"""${withDocShingles(2, "doc_id % 3 = 0")},
         bases AS (
           SELECT doc_id,
                  list_transform(s, x -> ${duckHash60("x")} % 2147483647) AS b1,
                  list_transform(s, x -> ${duckHash60("'#' || x")} % 2147483647) AS b2
           FROM sh WHERE len(s) > 0),
         sig AS MATERIALIZED (
           SELECT doc_id,
                  list_transform(range(0, 32), i ->
                    list_min(list_transform(list_zip(b1, b2),
                      p -> (p[1] + i * p[2]) % 2147483647))) AS sig
           FROM bases),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b, $duckJac AS jac
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $duckJac >= 0.1)
         SELECT p.a, p.b, p.jac,
                (1000000 * CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
                   q -> CASE WHEN q[1] = q[2] THEN 1 ELSE 0 END)) AS BIGINT)) // 32 AS est_fp
         FROM pairs p
         JOIN sig sa ON p.a = sa.doc_id
         JOIN sig sb ON p.b = sb.doc_id
         ORDER BY p.a, p.b""",

    // Eight unrolled batch-perceptron rounds, every stage MATERIALIZED.
    // Round 1 exploits w0 = 0: every doc scores 0 and y·0 ≤ 0, so w1 is the
    // unconditioned Σ y·c — identical to the Spark side's empty-weights
    // round. Pure integer arithmetic throughout; all sums CAST per the
    // HUGEINT lint.
    "q113_quality_perceptron" -> {
      def round(i: Int): String = {
        val (pw, ps) = (s"w$i", s"s$i")
        val (dd, nw) = (s"d${i + 1}", s"w${i + 1}")
        s"""$dd AS MATERIALIZED (
           SELECT b, CAST(sum(y * c) AS BIGINT) AS dw FROM dc
           WHERE doc_id IN (SELECT doc_id FROM $ps WHERE y * s <= 0)
           GROUP BY b),
         $nw AS MATERIALIZED (
           SELECT coalesce($pw.b, $dd.b) AS b,
                  coalesce($pw.wt, 0) + coalesce($dd.dw, 0) AS wt
           FROM $pw FULL JOIN $dd ON $pw.b = $dd.b)"""
      }
      def score(i: Int): String =
        s"""s$i AS MATERIALIZED (
           SELECT dc.doc_id, dc.y,
                  CAST(sum(dc.c * coalesce(w$i.wt, 0)) AS BIGINT) AS s
           FROM dc LEFT JOIN w$i USING (b) GROUP BY dc.doc_id, dc.y)"""
      s"""WITH ws AS (
           SELECT doc_id,
                  CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE -1 END AS y,
                  string_split(text, ' ') AS w
           FROM documents WHERE len(string_split(text, ' ')) >= 2),
         dc AS MATERIALIZED (
           SELECT doc_id, y,
                  ${duckHash60("'qp:' || g")} % 1024 AS b,
                  CAST(count(*) AS BIGINT) AS c
           FROM (SELECT doc_id, y,
                        unnest(list_transform(range(0, len(w) - 1),
                                 i -> w[i+1] || ' ' || w[i+2])) AS g
                 FROM ws)
           GROUP BY doc_id, y, b
           UNION ALL
           SELECT doc_id, y, CAST(-1 AS BIGINT) AS b, CAST(1 AS BIGINT) AS c
           FROM ws),
         w1 AS MATERIALIZED (
           SELECT b, CAST(sum(y * c) AS BIGINT) AS wt FROM dc GROUP BY b),
         ${(1 to 7).map(i => s"${score(i)},\n         ${round(i)},").mkString("\n         ")}
         ${score(8)}
         SELECT y, s > 0 AS pred, CAST(count(*) AS BIGINT) AS n
         FROM s8 GROUP BY y, s > 0 ORDER BY y, pred"""
    }
  )
}
