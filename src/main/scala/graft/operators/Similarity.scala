package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/**
 * Approximate / exact nearest-neighbor search over an embedding column.
 *
 * Input convention: a DataFrame with `id` (long) and `vec` (array<double>).
 *
 * Scale posture: the brute-force path broadcasts the (small) query set against
 * the (huge) corpus — a broadcast nested-loop with no corpus shuffle — and the
 * per-query top-k runs through the native bounded-heap aggregate
 * [[graft.plans.TopKByExpr]] (`topk_by`), so each task truncates to k entries
 * map-side and the exchange carries ≈ tasks × queries × k rows instead of
 * N × Q (a window `row_number` would land all N scored rows of one query on a
 * single reducer). The LSH path buckets the corpus by a deterministic
 * random-hyperplane signature so the candidate join is an equi-join on the
 * signature; at 100 TB the bucketed corpus can also be written partitioned by
 * signature for index-style reads.
 *
 * Requires `spark.sql.extensions=graft.plans.GraftExtensions` (for
 * `cosine_sim` and `topk_by`).
 */
object Similarity {

  /** Per-query top-k via the bounded-heap aggregate, exploded back to
   * (query_id, rank, neighbor_id, cos) in `row_number` keep-order. */
  private[operators] def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(call_function("topk_by", col("cos"), col("neighbor_id"), lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"), round(col("col.score"), 4).as("cos"))

  /**
   * Exact top-k cosine neighbors of each query vector (self-match excluded).
   * `queries` is expected to be small — it is broadcast, so the corpus is
   * scanned once with no shuffle; the bounded-heap partial aggregation keeps
   * the top-k exchange at tasks × queries × k rows.
   */
  /** The brute-force scoring join shared by [[knnBruteForce]] and
   * [[truncationRecall]]: queries broadcast, corpus scanned once with no
   * shuffle, raw cosine (NaN when a side has zero norm — callers choose
   * the contract). ONE definition so the two consumers can never drift. */
  private def scored(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    corpus.select(col("id").as("neighbor_id"), col("vec"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineNative(col("vec"), col("qvec")).as("cos"))
  }

  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(scored(corpus, queries), k)

  /**
   * Hard-negative mining for contrastive training: each query's top-k most
   * similar vectors with a DIFFERENT label — the high-similarity/wrong-class
   * examples that make the strongest negatives. Inputs carry (id, vec,
   * label). Same scan shape as [[knnBruteForce]]: queries broadcast, corpus
   * scanned once, the label inequality folded into the join predicate so
   * same-class rows never reach the scorer, bounded-heap top-k.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      col("label").as("qlabel"))
    val scored = corpus.select(col("id").as("neighbor_id"), col("vec"), col("label"))
      .join(broadcast(q),
        col("neighbor_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("neighbor_id"),
        cosineNative(col("vec"), col("qvec")).as("cos"))
    topK(scored, k)
  }

  /**
   * LSH-bucketed approximate top-k: corpus and queries are signed with the same
   * deterministic hyperplane signature; candidates come from an equi-join on
   * the signature (plus optional multi-probe over 1-bit flips), then exact
   * cosine re-ranks within the candidate set.
   */
  def annLsh(corpus: DataFrame, queries: DataFrame, dim: Int, nBits: Int,
             k: Int, probeBitFlips: Boolean = true): DataFrame = {
    val signed = corpus.select(col("id").as("neighbor_id"), col("vec"),
      hyperplaneSignatureNative(col("vec"), dim, nBits).as("sig"))
    val qSigned = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      hyperplaneSignatureNative(col("vec"), dim, nBits).as("qsig"))
    // multi-probe: the query probes its own bucket plus every 1-bit-flip bucket,
    // recovering most neighbors that straddle one hyperplane
    val probes =
      if (!probeBitFlips) qSigned.withColumn("sig", col("qsig"))
      else qSigned.select(col("query_id"), col("qvec"), col("qsig"),
        // SQL expr: shiftleft with a column shift amount is only reachable
        // through the SQL parser (the Scala API takes a static Int)
        expr(s"explode(concat(array(qsig), transform(sequence(0, ${nBits - 1}), b -> qsig ^ shiftleft(1L, b))))").as("sig"))
    val scored = signed.join(broadcast(probes.drop("qsig")), Seq("sig"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineNative(col("vec"), col("qvec")).as("cos"))
      // multi-probe can surface the same (query, neighbor) from several buckets
      .distinct()
    topK(scored, k)
  }

  /**
   * LSH-bucketed near-duplicate pairs over an embedding corpus — the
   * scale-safe twin of the all-pairs `a.join(b, a < b)` formulation: the
   * corpus is signed once with `bitsPerTable * nTables` deterministic
   * hyperplane bits, each table's bit-slice is an equi-join key (same banding
   * pattern as [[Dedup.minhashCandidates]]), and exact cosine verifies every
   * candidate — so precision is exact and only recall is probabilistic, with
   * per-pair miss probability `(1 - p^r)^L` for hyperplane agreement
   * probability `p = 1 - θ/π`.
   *
   * Parameter guidance: production near-dup thresholds (≥ 0.9 ⇒ p ≈ 0.86) use
   * wider tables (r = 8..16) for small buckets; low thresholds need narrow
   * tables (r = 2) and more of them to hold recall. On the test corpus the
   * default (2, 16) has measured recall 1.0 vs the all-pairs oracle — q34 runs
   * THIS path against the quadratic DuckDB oracle, the q32 pattern.
   */
  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic deduplication"):
   * partition the embedding space with the IVF coarse quantizer ([[Ivf]]),
   * detect duplicate pairs WITHIN each cell only (cosine ≥ `tau`), cluster
   * them, and keep per cluster the member LEAST similar to its cell centroid
   * (the paper's diversity-preserving survivor choice), ties to the smallest
   * id.
   *
   * Scale posture: candidate generation is an equi-join on `cell` — the
   * corpus never joins itself globally; a cell bounds its candidate set the
   * way an LSH bucket does in [[nearDupLsh]], and at 100 TB the assigned
   * corpus is written `partitionBy("cell")` once so each cell's pair scan is
   * partition-local. Components run over the verified pair set only;
   * survivor selection is ONE map-side-combined `min(struct(ccos, id))` per
   * cluster (the q73 argmax discipline) — never a window over members.
   *
   * Returns one row per duplicate cluster:
   * (cluster_id = min member id, cell, keep_id, n_members, members).
   * Every edge is cell-internal, so a cluster lives in exactly one cell.
   */
  /** Cell-scoped pair detection over an already-assigned corpus:
   * (id, vec, cell) → (a, b) with a < b and cosine ≥ `tau`, as a `cell`
   * equi-join.
   *
   * Hot-cell guard (the [[Dedup.bucketedPairs]] pattern): average cell size
   * is bounded by the coarse quantizer, but one degenerate cell (an all-zero
   * embedding cluster) would go quadratic. Cells above `maxCell` members
   * degrade to STAR pairs — every member scored against the cell's minimum-id
   * anchor only, cosine verification intact — O(cell) work that still ties
   * the cell's true duplicates of the anchor into one component. Cell sizes
   * are at most nlist rows, so the size lookup broadcasts. Bounded-candidate
   * behavior on a planted mega-cell is pinned in ScaleOpsSpec. */
  private def pairsWithinCells(assigned: DataFrame, tau: Double,
                               maxCell: Int = 10000): DataFrame = {
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    val withN = assigned.join(broadcast(sizes), Seq("cell"))
    val small = withN.where(col("cell_n") <= maxCell)
    val l = small.select(col("cell"), col("id").as("a"), col("vec").as("va"))
    val r = small.select(col("cell"), col("id").as("b"), col("vec").as("vb"))
    val smallPairs = l.join(r, Seq("cell"))
      .where(col("a") < col("b") && cosineNative(col("va"), col("vb")) >= tau)
      .select(col("a"), col("b"))
    val hot = withN.where(col("cell_n") > maxCell)
    // one anchor row per hot cell — broadcastable by construction
    val anchors = hot.groupBy(col("cell"))
      .agg(min(struct(col("id"), col("vec"))).as("anc"))
      .select(col("cell"), col("anc.id").as("a"), col("anc.vec").as("va"))
    val hotPairs = hot.select(col("cell"), col("id").as("b"), col("vec").as("vb"))
      .join(broadcast(anchors), Seq("cell"))
      .where(col("a") < col("b") && cosineNative(col("va"), col("vb")) >= tau)
      .select(col("a"), col("b"))
    smallPairs.unionByName(hotPairs)
  }

  /** [[semanticDedup]]'s candidate stage: duplicate pairs WITHIN an IVF cell
   * (cosine ≥ `tau`), as a `cell` equi-join — exposed so PlanShapeSpec can
   * pin the join shape (the components step checkpoints, hiding this plan
   * from the final DataFrame). */
  def semanticPairs(corpus: DataFrame, cents: Seq[Ivf.Centroid],
                    tau: Double, maxCell: Int = 10000): DataFrame =
    pairsWithinCells(Ivf.assign(corpus, cents), tau, maxCell)

  def semanticDedup(corpus: DataFrame, cents: Seq[Ivf.Centroid],
                    tau: Double, maxCell: Int = 10000,
                    coarseN: Int = 64,
                    centroidsAsData: Boolean = true): DataFrame = {
    // assignment + affinity computed ONCE and checkpointed: the nlist-term
    // argmax expression otherwise gets planned (and Janino-compiled) again
    // for each downstream branch — both pair sides and the survivor join —
    // the q36 oversized-expression lesson applied to plan reuse. TWO-LEVEL
    // assignment (coarse → fine): SemDeDup's nlist grows with the corpus
    // for constant cell size, and the flat argmax made assignment N²/64 —
    // 299 s at sf10, the r14 sweep's biggest single cost; the hierarchy
    // makes it N·(coarseN + nlist/coarseN) with the same cell-scoped pair
    // semantics downstream (Ivf.assignTwoLevel; degenerate-equal to the
    // flat argmax when nlist ≤ coarseN, so small fixtures are unchanged).
    // `centroidsAsData` (default) uses the value-identical broadcast-table
    // formulation (Ivf.assignTwoLevelData) whose PLAN stays O(coarseN) at
    // any nlist — and whose fused cosine_argmax kernel measured 5× faster
    // than the when-chain at sf10 (1.9 s vs 9.4 s for the assignment; the
    // chain's nlist-literal expressions also blow Janino's 64 KB method
    // limit, collapsing whole-stage codegen). `false` keeps the
    // expression-tree form for comparison.
    val assigned = (if (centroidsAsData)
        Ivf.assignTwoLevelData(corpus, cents, coarseN)
      else Ivf.assignTwoLevel(corpus, cents, coarseN))
      .localCheckpoint()
    semanticDedupTail(assigned, tau, maxCell)
  }

  /** [[semanticDedup]] with the centroid model CONSUMED AS A TABLE
   * (`Ivf.centroidTable` — VERDICT r15 #5): the assignment takes
   * `Ivf.assignTwoLevelDataFromTable`'s no-collect path, everything
   * downstream is the shared tail. Value-identical to the collected path
   * on the same centroid set. */
  def semanticDedupFromTable(corpus: DataFrame, centTable: DataFrame,
                             tau: Double, maxCell: Int = 10000,
                             coarseN: Int = 64): DataFrame =
    semanticDedupTail(
      Ivf.assignTwoLevelDataFromTable(corpus, centTable, coarseN)
        .localCheckpoint(),
      tau, maxCell)

  /** The shared SemDeDup tail over a checkpointed (id, vec, cell, ccos)
   * assignment: per-cell pairs → components → one row per cluster with
   * the kept representative (min (ccos, id) struct — SemDeDup keeps the
   * member FARTHEST from its centroid, ties to the lowest id). */
  private def semanticDedupTail(assigned: DataFrame, tau: Double,
                                maxCell: Int): DataFrame =
    Dedup.components(pairsWithinCells(assigned, tau, maxCell))
      .join(assigned.select(col("id"), col("cell"), col("ccos")), Seq("id"))
      .groupBy(col("component").as("cluster_id"))
      .agg(
        min(col("cell")).as("cell"), // constant within the cluster
        min(struct(col("ccos"), col("id"))).as("k"),
        count(lit(1)).as("n_members"),
        array_join(transform(sort_array(collect_list(col("id"))),
          x => x.cast("string")), ",").as("members"))
      .select(col("cluster_id"), col("cell"), col("k.id").as("keep_id"),
        col("n_members"), col("members"))

  /**
   * kNN majority-vote classification — the auto-labeling stage of a training
   * pipeline (propagate gold labels onto an unlabeled pool): each query's k
   * nearest LABELED neighbors by cosine vote, majority wins, ties to the
   * smallest label. `corpus` carries (id, vec, label); `queries` (id, vec).
   *
   * Scale posture: the neighbor search is [[knnBruteForce]]'s shape — queries
   * broadcast, corpus scanned once, bounded-heap top-k — so the vote table is
   * ≤ |queries|·k rows; the label lookup is an equi-join on neighbor id and
   * the winner is one map-side-combined `min(struct(-votes, label))` per
   * query (the q73 argmax discipline), never a window. For corpus-scale query
   * sets, swap the search stage for [[annLsh]] / [[Ivf.search]] — the vote
   * half is search-agnostic.
   */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val neighbors = knnBruteForce(corpus.select(col("id"), col("vec")), queries, k)
    neighbors
      .join(corpus.select(col("id").as("neighbor_id"), col("label")), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("label"))).as("w"),
        sum(col("votes")).as("n_votes"))
      .select(col("query_id"), col("w.label").as("pred_label"),
        (-col("w.nv")).as("votes"), col("n_votes"))
  }

  /**
   * Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
   * diversity-aware re-ranker a RAG retrieval stage runs AFTER candidate
   * generation: greedily select `k` items maximizing
   * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance traded
   * against redundancy with what is already picked, so five near-identical
   * top hits collapse to one plus four genuinely different results.
   *
   * Scale contract: MMR is inherently SEQUENTIAL in k and quadratic in the
   * candidate pool, so the pool must be the bounded output of a retrieval
   * stage ([[knnBruteForce]] / [[annLsh]] top-N — thousands of rows, not
   * the corpus); it is collected and scored driver-side, the bounded
   * driver-held-model idiom of IVF centroids and BPE merges. The heavy
   * lifting (the corpus scan) stays in the retrieval stage. All arithmetic
   * is the shared left-fold IEEE cosine, so selections are engine-exact
   * (the q134 oracle replays them relationally).
   *
   * Ties break to the smallest id; round-1 redundancy is 0 (empty
   * selection). Returns (rank, id, rel, mmr) with rel/mmr rounded to 4.
   */
  def mmrDiversify(candidates: DataFrame, query: Array[Double],
                   k: Int, lambda: Double = 0.5): DataFrame = {
    val session = candidates.sparkSession
    import session.implicits._
    def fsum(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)
    def cosOf(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = fsum(a.zip(b).map { case (x, y) => x * y })
      val na = math.sqrt(fsum(a.map(x => x * x)))
      val nb = math.sqrt(fsum(b.map(x => x * x)))
      dot / (na * nb)
    }
    val pool = candidates.select(col("id"), col("vec"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    val rel = pool.map { case (id, v) => id -> cosOf(query, v) }.toMap
    val byId = pool.toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashSet(pool.map(_._1): _*)
    // running max-similarity-to-selected per candidate: each round updates
    // against the NEWEST selection only — O(k·n) cosines total instead of
    // recomputing every candidate×selected pair per round (O(k²·n)); max is
    // exact, so scores are identical. Absent key ⇔ empty selection ⇔ 0.
    val redMax = scala.collection.mutable.Map.empty[Long, Double]
    for (rank <- 1 to math.min(k, pool.length)) {
      val best = remaining.toSeq.map { c =>
        (c, lambda * rel(c) - (1 - lambda) * redMax.getOrElse(c, 0.0))
      }.minBy { case (c, score) => (-score, c) }
      selected += ((rank, best._1, rel(best._1), best._2))
      remaining -= best._1
      val sv = byId(best._1)
      remaining.foreach { c =>
        val s = cosOf(byId(c), sv)
        redMax(c) = redMax.get(c).map(math.max(_, s)).getOrElse(s)
      }
    }
    selected.toSeq.toDF("rank", "id", "rel", "mmr")
      .select(col("rank"), col("id"),
        round(col("rel"), 4).as("rel"), round(col("mmr"), 4).as("mmr"))
  }

  /**
   * Semantic decontamination — the embedding-space twin of the n-gram
   * decontaminate ([[CorpusOps.decontaminate]] / q44, q114): flag every
   * corpus vector whose cosine similarity to ANY benchmark/eval vector
   * reaches `threshold`. This is the paraphrase-leakage detector exact
   * n-gram matching structurally misses — a reworded eval question shares
   * no 8-gram with its source but sits next to it in embedding space.
   * Inputs carry (id, vec); the two id sets are assumed disjoint (the
   * caller's split contract). Output: one row per contaminated corpus
   * vector — (id, eval_id = best match, cos rounded, n_matches).
   *
   * Scale posture: eval benchmarks are bounded (10³..10⁵ rows), so the
   * eval side BROADCASTS and the corpus is scanned exactly once with no
   * shuffle before the filter; the threshold filter runs BEFORE the
   * per-doc argmax aggregation, so the only exchange carries contaminated
   * hits — at sane thresholds a vanishing fraction of the corpus — never
   * the N×E scored rows. The best-match argmax is ONE map-side-combined
   * `max(struct(cos, -eval_id))` (ties to the smallest eval id — the q73
   * discipline), never a window. For eval sets too large to broadcast,
   * bucket both sides with [[annLsh]]'s hyperplane signature first and
   * run the same scan per bucket.
   */
  def semanticContamination(corpus: DataFrame, evalSet: DataFrame,
                            threshold: Double): DataFrame = {
    val ev = evalSet.select(col("id").as("eval_id"), col("vec").as("evec"))
    corpus.select(col("id"), col("vec"))
      .crossJoin(broadcast(ev))
      .select(col("id"), col("eval_id"),
        cosineNative(col("vec"), col("evec")).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy(col("id"))
      .agg(max(struct(col("cos").as("cos"), (-col("eval_id")).as("neg"))).as("m"),
        count(lit(1)).as("n_matches"))
      .select(col("id"), (-col("m.neg")).as("eval_id"),
        round(col("m.cos"), 4).as("cos"), col("n_matches"))
  }

  /**
   * Sparse tf-idf cosine similarity pairs over a term-occurrence table
   * `toks(id, term)` — the weighted-vector twin of [[Dedup.allPairsJaccard]]
   * (set overlap there, tf-idf dot product here). Weights are the engine-exact
   * integer fixed point `wt = (1000·tf) div df` (monotone in tf·idf for a
   * fixed corpus — the q48 convention, exact in any engine where ln() is
   * not); cosine is `(10⁶·Σ wtₐ·wt_b) div (⌊√Σwtₐ²⌋·⌊√Σwt_b²⌋)` — the sqrt
   * runs on an exactly-representable long (< 2⁵³ by the weight scaling), so
   * both engines see the identical correctly-rounded double and the floor
   * division is bit-stable.
   *
   * Terms with df > N/`maxDfDenom` (corpus-size fraction) are pruned BEFORE
   * pair generation — semantically the standard stopword cut (idf has already
   * discounted them to noise), and structurally the first scale guard: the
   * postings self-join costs Σ df² over KEPT terms only. On Zipfian text this
   * drops the boilerplate head that would otherwise dominate the join; the
   * prune is part of the operator's contract (applied identically in the
   * oracle), not a silent cap.
   *
   * ABSOLUTE DF-CAP (`maxDf`, the Σ df² guard the relative prune alone
   * cannot give): at web scale a mid-frequency term with df = 10⁶ sails
   * under N/maxDfDenom yet would contribute ~5·10¹¹ rows to the self-join
   * on one key. Terms with df > `maxDf` are excluded from pair GENERATION
   * (the [[Dedup.allPairsJaccard]] discipline, same loud-when-binding
   * audit); their weight contribution to every surviving pair's dot product
   * and shared-term count is restored EXACTLY by a bounded ride-along
   * correction join (|candidates| × hot-terms-per-doc, never hot-df²), so
   * each emitted cos_ppm is still the exact value — norms always sum over
   * ALL kept terms. Pairs whose only overlap is hot terms re-enter as
   * per-term STAR candidates scored exactly from their full postings — a
   * boilerplate-bound cluster stays one connected component without the df²
   * join ever running. Recall concession (documented, as in
   * [[Dedup.allPairsJaccard]]): a non-star pair both of whose members share
   * only hot terms is not enumerated. When `minCosPpm` > 0, candidates are
   * pre-pruned with a Cauchy-Schwarz upper bound on the hot credit before
   * the correction join multiplies anything. Below the cap the plan is the
   * unguarded original; a binding cap WARNs through the shared
   * [[Dedup.loudWhenCapBinds]] listener. Bounded candidate behavior on a
   * planted mega-df term is pinned in ScaleOpsSpec.
   *
   * The cap is OPT-IN: `maxDf` defaults to `Long.MaxValue` (never binds), so
   * existing callers keep full enumeration; scale deployments pass an
   * explicit cap (q126 uses 10 000) and accept the documented hot-only
   * recall concession in exchange for the bounded Σ df².
   */
  def tfidfCosinePairs(toks: DataFrame, maxDfDenom: Int = 2,
                       minCosPpm: Long = 0L,
                       maxDf: Long = Long.MaxValue): DataFrame = {
    val post = buildPostings(toks, maxDfDenom)
      // one narrow table read several ways (pair sides + norms + hot
      // correction + star verify): materialize once, the q31 pattern
      .localCheckpoint()
    cosineFromPostings(post, minCosPpm, maxDf, sys.env.getOrElse(
      "SPARK_GRAFT_COSINE_STATE_FREE_MIN_DF2", "1000000000").toLong)
  }

  /** The exact-core dispatch of [[tfidfCosinePairs]] over materialized
   * postings; `stateBudget` is the Σ df² threshold above which the
   * state-free merge-dot core runs (MergeDotCosineSpec passes 0 to drive
   * the dispatch's own census into that core at test scale). */
  private[graft] def cosineFromPostings(post: DataFrame, minCosPpm: Long,
                                        maxDf: Long,
                                        stateBudget: Long): DataFrame = {
    // r18 (VERDICT r17 #4): the count-per-pair core accumulates one
    // hash-agg key per distinct co-occurring pair — ~290M keys at sf100 on
    // q126's corpus, the measured dec3 ~20× spill — but BELOW that scale it
    // is the cheaper plan (CosineProfile sf10: counting 23.9 s vs
    // merge-dot 37.4 s — the state only hurts once it spills). Dispatch on
    // ONE bounded census over the kept-term dfs: the STATE-FREE merge-dot
    // path takes over when Σ df² (the proxy for pair state — distinct
    // pairs ≲ Σ df²/2) crosses the budget AND the vocabulary is
    // hash-collision-free (distinct terms == distinct hashes — the
    // exactness precondition the kernel's run-sum semantics needs; on a
    // colliding vocabulary, never observed, the counting core runs at any
    // scale, so values are exact either way). MergeDotCosineSpec pins the
    // two paths value-identical.
    val cen = post.groupBy(col("term"))
      .agg(count(lit(1)).as("d"), max(col("df")).as("df"))
      .agg(coalesce(sum(col("d") * col("d")), lit(0L)).as("s2"),
        count(lit(1)).as("t"),
        count_distinct(xxhash64(col("term"))).as("h"),
        coalesce(max(col("df")), lit(0L)).as("m")).head()
    if (cen.getLong(0) > stateBudget && cen.getLong(1) == cen.getLong(2))
      // hotFree rides the same census. It reads the RAW df column, the one
      // the hot set filters on: the wt > 0 prune can leave a term with
      // fewer kept postings than its df, so max kept count ≤ cap does not
      // prove the hot set empty (MergeDotCosineSpec pins that case). Max
      // df ≤ cap ⟹ no hot term ⟹ exactly-once emission is recall-safe.
      mergeDotCosinePairs(post, minCosPpm, maxDf,
        hotFree = cen.getLong(3) <= maxDf)
    else {
      // norms are over ALL kept postings — the cap changes candidate
      // generation, never the vector the cosine is taken against
      val norms = postingsNorms(post)
      cappedCosineFromPostings(post, norms, minCosPpm, maxDf)
    }
  }

  /**
   * The STATE-FREE within-corpus cosine core (r18): cold single-token
   * equi-join on hashed terms generates (a, b) candidate rows (one per
   * shared cold term — Σ df² rows, LINEAR on the vocab-∝-corpus family,
   * zero aggregation state), per-term stars keep hot-only clusters
   * connected (the unchanged capped-recall contract), and EVERY row scores
   * inline: both docs' FULL sorted (term-hash, weight) arrays attach via
   * two broadcast joins, `dot_sorted` (flat merge codegen —
   * [[graft.plans.DotSortedExpr]]) computes the exact dot over ALL kept
   * terms (cold + hot — the ride-along correction joins of the counting
   * core have nothing left to correct), `intersect_count_sorted` the
   * shared-term count, and the fixed-point gate filters before a bounded
   * distinct (qualifying rows × shared-term multiplicity only). Caller
   * guarantees a collision-free hashed vocabulary (the census above), so
   * values are bit-identical to the counting core — PipelineSpec's
   * brute-force pin and DedupFuzzSpec's capped/uncapped properties run
   * through this path at test scale.
   */
  /** @param hotFree caller-proven "the df cap does not bind on this postings
   * frame" (max of the `df` column ≤ maxDf — ridden on the dispatch
   * census). When true, the candidate join emits each pair EXACTLY ONCE: a
   * row survives only if its join hash equals `min_common_sorted(ka, kb)` —
   * recall-safe because with no hot terms every common hash of the two
   * arrays is a join key the cold equi-join produced, so the minimal one is
   * always represented (collision rows included: equal hashes join
   * regardless of the term strings, and duplicate emissions die in the
   * retained distinct). The r19 probe measured multiplicity 19.6 on q126's
   * corpus at sf10 with the distinct at 35.2 s of the 46.9 s pipeline —
   * this filter shrinks that exchange by the multiplicity factor for one
   * early-exit merge per row.
   * When false (a binding cap — hot terms exist and a pair's minimal common
   * hash may be hot, i.e. never a join key), the full-multiplicity emission
   * stands: correctness first. */
  private[graft] def mergeDotCosinePairs(post: DataFrame, minCosPpm: Long,
                                         maxDf: Long,
                                         hotFree: Boolean = false): DataFrame = {
    val hotSet = Dedup.loudWhenCapBinds(
        post.where(col("df") > maxDf)
          .groupBy(col("term")).agg(max(col("df")).as("df")), maxDf)
      .select(col("term"))
    val cold = post.join(hotSet, Seq("term"), "left_anti")
    val hot = post.join(hotSet, Seq("term"), "left_semi")
    // broadcast verify side: per-doc arrays over ALL kept postings, sorted
    // by term hash (collision-free by the caller's census ⟹ a total
    // order on terms), plus the exact postingsNorms integer norm
    val varr = post.groupBy(col("id"))
      .agg(sort_array(collect_list(
        struct(xxhash64(col("term")).as("k"), col("wt")))).as("kw"),
        floor(sqrt(sum(col("wt") * col("wt")).cast("double")))
          .cast("long").as("nrm"))
      .select(col("id"), expr("transform(kw, x -> x.k)").as("ks"),
        expr("transform(kw, x -> x.wt)").as("ws"), col("nrm"))
      .localCheckpoint()
    val coldKeyed = cold.select(xxhash64(col("term")).as("kh"), col("id"))
    // the join key rides along (kh) so the hotFree exactly-once filter can
    // compare it against the pair's minimal common hash; star rows carry a
    // null kh and always pass (they only exist when the cap binds, i.e.
    // when hotFree is false and the filter is off anyway)
    val pairs = coldKeyed.select(col("kh"), col("id").as("a"))
      .join(coldKeyed.select(col("kh"), col("id").as("b")), Seq("kh"))
      .where(col("a") < col("b")).select(col("a"), col("b"), col("kh"))
      .unionByName(Dedup.hotStarPairs(
          hot.select(col("id"), col("term").as("sh")))
        .withColumn("kh", lit(null).cast("long")))
    val attached = pairs
      .join(broadcast(varr.select(col("id").as("a"), col("ks").as("ka"),
        col("ws").as("wa"), col("nrm").as("na"))), "a")
      .join(broadcast(varr.select(col("id").as("b"), col("ks").as("kb"),
        col("ws").as("wb"), col("nrm").as("nb"))), "b")
    val once =
      if (hotFree) attached.where(col("kh").isNull ||
        col("kh") === call_function("min_common_sorted", col("ka"), col("kb")))
      else attached
    once
      .select(col("a"), col("b"),
        call_function("intersect_count_sorted", col("ka"), col("kb"))
          .cast("long").as("n_shared"),
        call_function("dot_sorted", col("ka"), col("wa"), col("kb"), col("wb"))
          .as("dot"),
        col("na"), col("nb"))
      .select(col("a"), col("b"), col("n_shared"),
        expr("1000000 * dot div (na * nb)").as("cos_ppm"))
      .where(col("cos_ppm") >= minCosPpm)
      .distinct()
  }

  /** Test accessors for the dispatch's two exact cores — MergeDotCosineSpec
   * pins them value-identical on corpora the Σ df² gate would route to the
   * counting core. */
  private[graft] def buildPostingsForTest(toks: DataFrame,
                                          maxDfDenom: Int): DataFrame =
    buildPostings(toks, maxDfDenom)
  private[graft] def cappedCosineForTest(post: DataFrame, minCosPpm: Long,
                                         maxDf: Long): DataFrame =
    cappedCosineFromPostings(post, postingsNorms(post), minCosPpm, maxDf)

  /** The `(id, term, wt, df)` postings construction shared by the in-session
   * pair path and the artifact writer — ONE definition of the weighting
   * contract (tf census, df census, relative prune, `1000·tf div df`,
   * wt > 0 floor), so the artifact ≡ in-session identity PersistedIndexSpec
   * pins cannot be broken by the two sites drifting apart. */
  private def buildPostings(toks: DataFrame, maxDfDenom: Int): DataFrame = {
    val tf = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = toks.agg(countDistinct(col("id")).as("n_docs"))
    // relative df-prune against the broadcast 1-row corpus count (declarative
    // — no driver action); integer comparison so the fraction needs no
    // rounding rule
    val kept = df_.join(broadcast(nd),
      col("df") * lit(maxDfDenom.toLong) <= col("n_docs"))
    // df rides the postings so the hot-term set derives from the
    // materialized frame — re-deriving it from `kept` would re-run the
    // tf/df aggregation AND surface the broadcast df-prune join outside the
    // checkpoint (the PlanShapeSpec equi-join-only pin)
    tf.join(kept.select(col("term"), col("df")), "term")
      .select(col("id"), col("term"), expr("1000 * tf div df").as("wt"), col("df"))
      .where(col("wt") > 0)
  }

  /** Integer norms over a `(id, term, wt, df)` postings frame — always over
   * ALL kept postings (the cap never changes the vector a cosine is taken
   * against). */
  private def postingsNorms(post: DataFrame): DataFrame =
    post.groupBy(col("id"))
      .agg(sum(col("wt") * col("wt")).as("n2"))
      .select(col("id"),
        floor(sqrt(col("n2").cast("double"))).cast("long").as("nrm"))

  /** The df-capped exact-cosine core of [[tfidfCosinePairs]], factored over
   * an already-materialized postings frame so the in-session path (postings
   * localCheckpointed above) and the persisted-artifact path
   * ([[tfidfCosinePairsFromIndex]] — postings ARE a parquet table) run the
   * byte-identical pair algebra: the two can only diverge in where the
   * postings come from, which is exactly the equivalence
   * PersistedIndexSpec pins. */
  private def cappedCosineFromPostings(post: DataFrame, norms: DataFrame,
                                       minCosPpm: Long, maxDf: Long): DataFrame =
    cappedCosineCore(post, norms, post, norms, minCosPpm, maxDf,
      // within-corpus: canonical ascending pairs; hot-only clusters stay one
      // component via the rep-chained per-term star
      pairFilter = col("a") < col("b"),
      starCands = (_, hotB) =>
        Dedup.hotStarPairs(hotB.select(col("id"), col("term").as("sh"))))

  /** The df-capped exact-cosine algebra, TWO-SIDED — the one definition of
   * cold-pairs + Cauchy-Schwarz hot-credit prune + exact correction join +
   * star fallback, shared by the within-corpus path (`A = B`, ascending
   * pairs, rep-chained star) and the new×old incremental probe (disjoint
   * sides, per-term min-OLD-holder star): the capped-exactness contract
   * lives in exactly one place, so batch and incremental semantics cannot
   * drift. `hotSet` derives from the B (corpus/index) side — identical to A
   * in the symmetric case. `starCands(hotA, hotB)` returns the (a, b)
   * hot-only candidate pairs, scored exactly from both full postings. */
  private def cappedCosineCore(postA: DataFrame, normsA: DataFrame,
                               postB: DataFrame, normsB: DataFrame,
                               minCosPpm: Long, maxDf: Long,
                               pairFilter: Column,
                               starCands: (DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    val hotSet = Dedup.loudWhenCapBinds(
        postB.where(col("df") > maxDf)
          .groupBy(col("term")).agg(max(col("df")).as("df")), maxDf)
      .select(col("term"))
    val coldA = postA.join(hotSet, Seq("term"), "left_anti")
    val coldB = postB.join(hotSet, Seq("term"), "left_anti")
    val hotA = postA.join(hotSet, Seq("term"), "left_semi")
    val hotB = postB.join(hotSet, Seq("term"), "left_semi")
    val coldPairs = coldA.select(col("term"), col("id").as("a"), col("wt").as("wa"))
      .join(coldB.select(col("term"), col("id").as("b"), col("wt").as("wb")),
        Seq("term"))
      .where(pairFilter)
      .groupBy(col("a"), col("b"))
      .agg(sum(col("wa") * col("wb")).as("dot_cold"),
        count(lit(1)).as("n_cold"))
      .join(normsA.select(col("id").as("a"), col("nrm").as("na")), "a")
      .join(normsB.select(col("id").as("b"), col("nrm").as("nb")), "b")
    // upper-bound prune before the correction join: the hot contribution to
    // the dot product is at most √(Σwtₐ²·Σwt_b²) over hot terms
    // (Cauchy-Schwarz); +1 absorbs double rounding so the bound can only
    // over-admit, never drop a qualifying pair. With minCosPpm = 0 the
    // filter is vacuous and every cold candidate proceeds (still linear).
    val hotNorm2A = hotA.groupBy(col("id")).agg(sum(col("wt") * col("wt")).as("h2"))
    val hotNorm2B = hotB.groupBy(col("id")).agg(sum(col("wt") * col("wt")).as("h2"))
    val bounded = coldPairs
      .join(hotNorm2A.select(col("id").as("a"), col("h2").as("h2a")), Seq("a"), "left")
      .join(hotNorm2B.select(col("id").as("b"), col("h2").as("h2b")), Seq("b"), "left")
      .withColumn("credit",
        floor(sqrt(coalesce(col("h2a"), lit(0L)).cast("double") *
          coalesce(col("h2b"), lit(0L)).cast("double"))).cast("long") + lit(1L))
      .where(expr("1000000 * (dot_cold + credit) div (na * nb)") >= minCosPpm)
      .select(col("a"), col("b"), col("dot_cold"), col("n_cold"),
        col("na"), col("nb"))
    // exact correction riding the candidate row — expand by a's hot terms,
    // match those b also holds, re-collapse: |candidates| × hot-terms-per-doc
    val corrected = bounded
      .join(hotA.select(col("id").as("a"), col("term"), col("wt").as("wah")),
        Seq("a"), "left")
      .join(hotB.select(col("id").as("b"), col("term"), col("wt").as("wbh")),
        Seq("b", "term"), "left")
      .groupBy(col("a"), col("b"), col("dot_cold"), col("n_cold"),
        col("na"), col("nb"))
      .agg(sum(col("wah") * col("wbh")).as("dot_hot"),
        count(col("wbh")).as("n_hot"))
      .select(col("a"), col("b"),
        (col("n_cold") + col("n_hot")).as("n_shared"),
        (col("dot_cold") + coalesce(col("dot_hot"), lit(0L))).as("dot"),
        col("na"), col("nb"))
    // hot-only pairs: linear per-term star candidates, scored exactly from
    // the full postings (both cold and hot terms of each member)
    val starScored = scorePairsExactAb(starCands(hotA, hotB),
      postA, normsA, postB, normsB)
    corrected.unionByName(starScored)
      .select(col("a"), col("b"), col("n_shared"),
        expr("1000000 * dot div (na * nb)").as("cos_ppm"))
      .where(col("cos_ppm") >= minCosPpm)
      .distinct()
  }

  /**
   * PERSISTED tf-idf postings artifact — the weighted-similarity twin of
   * [[Dedup.writeBandIndex]]: pay the tokenize + tf/df aggregation + df-prune
   * ONCE at index time, then serve every later similarity pass (full pair
   * enumeration, daily new×old probes) from parquet instead of recomputing
   * tf/df/norms per invocation. Three tables:
   *  - `<table>`       — `(id, term, wt, df)` postings, BUCKETED+sorted by
   *    `term` (the pair-generation join key): the postings self-join and the
   *    per-term df census plan ZERO exchanges above the index scan;
   *  - `<table>_norms` — `(id, nrm)` bucketed by `id` (the verify-side key);
   *  - `<table>_meta`  — 1 row `(n_docs, max_df_denom)`: the snapshot's
   *    PROVENANCE record (what corpus size and prune the weights were built
   *    against — the audit a weighting question about a served probe needs).
   *    Probes themselves read only the postings' `df` column, never _meta.
   * Unlike the in-session localCheckpoint, the artifact survives the session
   * and recomputes nothing on executor loss.
   */
  def writeTfidfPostingsIndex(toks: DataFrame, table: String,
                              maxDfDenom: Int = 2,
                              numBuckets: Int = 32): Unit = {
    val spark = toks.sparkSession
    // the three tables are ONE artifact — new postings joined against stale
    // norms would emit silently wrong cosines, so every member stages first
    // (the long, killable writes; the prior version stays served throughout)
    // and the swaps run together at the end
    CorpusOps.writeBucketedStaged(buildPostings(toks, maxDfDenom), table,
      Seq("term"), numBuckets)
    val staged = spark.table(s"${table}__staging")
    CorpusOps.writeBucketedStaged(postingsNorms(staged), s"${table}_norms",
      Seq("id"), numBuckets)
    // provenance row derives from the STAGED postings (one bucket-local
    // aggregate over the artifact), never a second corpus scan; n_docs here
    // counts docs with >= 1 kept posting — the population the index serves
    CorpusOps.dropWithLocation(spark, s"${table}_meta__staging")
    staged.agg(countDistinct(col("id")).as("n_docs"))
      .withColumn("max_df_denom", lit(maxDfDenom))
      .write.format("parquet").mode("overwrite")
      .saveAsTable(s"${table}_meta__staging")
    CorpusOps.swapStaged(spark, table)
    CorpusOps.swapStaged(spark, s"${table}_norms")
    CorpusOps.swapStaged(spark, s"${table}_meta")
  }

  /**
   * [[tfidfCosinePairs]] served from a persisted [[writeTfidfPostingsIndex]]
   * artifact: identical pair semantics and values (both paths run
   * [[cappedCosineFromPostings]]; the only difference is postings
   * provenance — proven value-identical in PersistedIndexSpec). Plan shape:
   * the cold×cold postings self-join reads the SAME term-bucketed table on
   * both sides (no Exchange above either scan); the hot census and the
   * df-prune are bucket-local; only the (a, b) collapse shuffles, which is
   * the irreducible output key.
   */
  def tfidfCosinePairsFromIndex(spark: SparkSession, table: String,
                                minCosPpm: Long = 0L,
                                maxDf: Long = Long.MaxValue): DataFrame =
    cappedCosineFromPostings(spark.table(table), spark.table(s"${table}_norms"),
      minCosPpm, maxDf)

  /**
   * Daily-crawl NEW×OLD weighted-similarity probe against a persisted
   * [[writeTfidfPostingsIndex]] artifact — the [[Dedup.incrementalCandidatesFromIndex]]
   * discipline for the tf-idf cosine path: the historical corpus never
   * re-tokenizes, never re-aggregates, and its side of the term join plans
   * no exchange (bucket-colocated scan). New docs are weighted AGAINST THE
   * SNAPSHOT — `wt = 1000·tf div df_index(term)` with the index's df — so a
   * probe is reproducible regardless of crawl order; new-doc terms outside
   * the index vocabulary contribute nothing (they cannot match any old doc's
   * kept terms anyway — affects only the new doc's norm, documented snapshot
   * semantics; the periodic full index rebuild re-admits them). Same
   * df-cap discipline as the batch operator: hot terms (index df > `maxDf`)
   * are excluded from pair generation, their dot-product contribution is
   * restored EXACTLY by the bounded per-candidate correction join, and a
   * new doc sharing ONLY hot terms with the corpus re-enters through a
   * per-term star against the term's min OLD holder, scored exactly.
   * Requires new ids disjoint from index ids (the incremental contract).
   * Emits `(a, b, n_shared, cos_ppm)` with `a` = new doc, `b` = corpus doc.
   */
  def incrementalTfidfPairsFromIndex(newToks: DataFrame, table: String,
                                     minCosPpm: Long = 0L,
                                     maxDf: Long = Long.MaxValue): DataFrame = {
    val spark = newToks.sparkSession
    val post = spark.table(table)
    val oldNorms = spark.table(s"${table}_norms")
    // per-term df of the snapshot: grouping key == bucket column — no
    // exchange above the index scan
    val termDf = post.groupBy(col("term")).agg(max(col("df")).as("df"))
    val newPost = newToks.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .join(termDf, "term")
      .select(col("id"), col("term"), expr("1000 * tf div df").as("wt"),
        col("df"))
      .where(col("wt") > 0)
      .localCheckpoint()
    val newNorms = postingsNorms(newPost)
    // the disjoint-ids contract is ENFORCED, not just documented: an id
    // present on both sides would emit a bogus ~cos-1.0 self-pair (or pair
    // two different docs sharing a recycled id) with no error — refuse
    // loudly instead. One bounded semi-join probe (take-1 semantics) per
    // probe invocation, the q90/ScaleUp guard discipline.
    require(newNorms.join(oldNorms, Seq("id"), "left_semi").isEmpty,
      s"incrementalTfidfPairsFromIndex: new ids overlap index '$table' ids " +
        "- the probe requires disjoint id spaces (re-key the crawl or " +
        "rebuild the index)")
    cappedCosineCore(newPost, newNorms, post, oldNorms, minCosPpm, maxDf,
      // new×old: every cross pair is canonical already (sides disjoint);
      // hot-only bridges pair each NEW holder with the term's min OLD
      // holder — linear per term
      pairFilter = lit(true),
      starCands = (hotA, hotB) =>
        hotA.select(col("id").as("a"), col("term"))
          .join(hotB.groupBy(col("term")).agg(min(col("id")).as("b")), "term")
          .select(col("a"), col("b"))
          .distinct())
  }

  /** [[scorePairsExact]] with DISTINCT postings/norms per side — the new×old
   * star verifier: `a` ids resolve against `(postA, normsA)`, `b` ids
   * against `(postB, normsB)`. */
  private def scorePairsExactAb(candidates: DataFrame,
                                postA: DataFrame, normsA: DataFrame,
                                postB: DataFrame, normsB: DataFrame): DataFrame =
    candidates
      .join(postA.select(col("id").as("a"), col("term"), col("wt").as("wa")), "a")
      .join(postB.select(col("id").as("b"), col("term"), col("wt").as("wb")),
        Seq("b", "term"), "left")
      .groupBy(col("a"), col("b"))
      .agg(count(col("wb")).as("n_shared"),
        coalesce(sum(col("wa") * col("wb")), lit(0L)).as("dot"))
      .join(normsA.select(col("id").as("a"), col("nrm").as("na")), "a")
      .join(normsB.select(col("id").as("b"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"), col("n_shared"), col("dot"),
        col("na"), col("nb"))

  /** Exact (dot, n_shared, norms) for candidate pairs from the full weighted
   * postings — the star-pair verifier for [[tfidfCosinePairs]]'s hot path:
   * expand each candidate by a's postings, match the terms b also holds,
   * collapse. Linear in |candidates| × terms-per-doc. */
  private def scorePairsExact(candidates: DataFrame, post: DataFrame,
                              norms: DataFrame): DataFrame =
    candidates
      .join(post.select(col("id").as("a"), col("term"), col("wt").as("wa")), "a")
      .join(post.select(col("id").as("b"), col("term"), col("wt").as("wb")),
        Seq("b", "term"), "left")
      .groupBy(col("a"), col("b"))
      .agg(count(col("wb")).as("n_shared"),
        coalesce(sum(col("wa") * col("wb")), lit(0L)).as("dot"))
      .join(norms.select(col("id").as("a"), col("nrm").as("na")), "a")
      .join(norms.select(col("id").as("b"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"), col("n_shared"), col("dot"),
        col("na"), col("nb"))

  def nearDupLsh(vecs: DataFrame, dim: Int, threshold: Double,
                 bitsPerTable: Int = 2, nTables: Int = 16,
                 maxBucket: Int = 10000): DataFrame = {
    // ARRAY-OF-LONG signatures (VERDICT r14 #6): one long per table, so
    // bitsPerTable can exceed the 62/nTables single-long budget — the
    // key-bits-per-band doctrine's lever (each corpus decade wants wider
    // per-band keys; the r14 single-long form capped 8 tables at 7 bits,
    // whose 128 buckets/table ground 277 s of candidate volume at sf10).
    // Word t is bit-identical to the old shiftright slice wherever both
    // are defined, so banding semantics carry over exactly.
    //
    // Candidate generation carries (id, table, bucket) ONLY — the banding
    // posexplode multiplies rows ×nTables, so letting `vec` ride through it
    // would push every embedding across the exchange nTables times; vectors
    // are joined back by id for the verify step instead (the verifyJaccard
    // pattern), so the wide arrays cross the shuffle exactly once per side
    // of the (small) candidate set
    val signed = vecs.select(col("id"),
      hyperplaneSignatureWordsNative(col("vec"), dim, bitsPerTable, nTables)
        .as("sig"))
      .localCheckpoint() // read three ways: banding + both exact-clique sides
    val banded = signed.select(col("id"), posexplode(col("sig")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    // candidate enumeration through the GUARDED bucketedPairs (the q90
    // discipline): clustered embeddings concentrate hyperplane signatures,
    // and a raw bucket self-join goes quadratic in the hot buckets — the
    // r14 sf10 measurement of exactly that was 423 s (and the pre-rework
    // variant OOM'd). Buckets over maxBucket degrade to star pairs
    // (id vs bucket minimum) — O(bucket) with connectivity preserved, the
    // documented dedup-clustering contract shared with q90's image bands.
    //
    // IDENTICAL-SIGNATURE CLIQUES ride a second, UNGUARDED channel: ids
    // sharing the FULL signature pair exactly (a < b), one equi-join on the
    // signature words. This closes the hot-bucket recall hole (a twin pair
    // inside a > maxBucket bucket would otherwise survive only as star
    // pairs and could miss the direct a-twin edge), and it is output-
    // bounded by nature: identical full signatures mark near-identical
    // directions, whose true pairs the caller's threshold keeps anyway —
    // the quadratic object IS the answer. Degenerate corpora (mass
    // zero-norm vectors all signing 0) should be filtered upstream.
    val sigPairs = signed.select(col("id").as("a"), col("sig"))
      .join(signed.select(col("id").as("b"), col("sig")), "sig")
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
    val candidates = Dedup.bucketedPairs(banded, maxBucket)
      .unionByName(sigPairs).distinct()
    candidates
      .join(vecs.select(col("id").as("a"), col("vec").as("va")), "a")
      .join(vecs.select(col("id").as("b"), col("vec").as("vb")), "b")
      .select(col("a"), col("b"),
        round(cosineNative(col("va"), col("vb")), 4).as("cos"))
      .where(col("cos") >= threshold)
  }

  /**
   * Truncated-dimension retrieval audit (the Matryoshka / dimension-
   * reduction validation step): before an index switches from full-dim to
   * prefix-truncated embeddings, measure what the truncation does to the
   * neighbors actually retrieved. Per query, exact cosine top-k under the
   * FULL vectors and under the first-`dim` PREFIX, then:
   *
   *   - `full_top1`   — the true (full-dim) nearest neighbor,
   *   - `trunc_rank`  — its rank in the truncated top-k (NULL = lost: the
   *                     doc a truncated index would fail to surface first),
   *   - `overlap_k`   — |full top-k ∩ truncated top-k| (recall@k·k).
   *
   * The aggregate recall curve is one `avg` away; the per-query table is
   * the artifact a retrieval team actually debugs from.
   *
   * Scale posture: both top-k passes are the [[knnBruteForce]] shape —
   * queries broadcast, corpus scanned with no shuffle, native bounded-heap
   * top-k — and every join past them touches only the Q×k result,
   * localCheckpointed so the corpus is scanned exactly twice (once per
   * representation), not once per downstream consumer. Rank ties break
   * (cos desc, id asc) in both passes, so the comparison is deterministic.
   * A vector with no cosine — zero norm, in EITHER representation (a
   * failed-embed row full-dim, or an all-zero first-`dim` prefix under
   * truncation) — scores −1 in BOTH passes: defined to LOSE against every
   * real neighbor, rather than NaN (which the top-k heap would rank
   * first, corrupting the audit). Swap either pass for
   * [[annLsh]]/[[graft.operators.Ivf]] probes when the corpus outgrows
   * brute force — the audit join is representation-agnostic.
   */
  def truncationRecall(corpus: DataFrame, queries: DataFrame, dim: Int,
                       k: Int): DataFrame = {
    require(dim >= 1, "dim must be positive")
    def trunc(df: DataFrame): DataFrame =
      df.select(col("id"), slice(col("vec"), 1, dim).as("vec"))
    // the SHARED scoring join (one definition with knnBruteForce — the
    // passes cannot drift) with the audit's undefined-cosine contract
    def guardedTopK(c: DataFrame, q: DataFrame): DataFrame =
      topK(scored(c, q).select(col("query_id"), col("neighbor_id"),
        nanvl(col("cos"), lit(-1.0)).as("cos")), k)
    val kFull = guardedTopK(corpus, queries).localCheckpoint()
    val kTrunc = guardedTopK(trunc(corpus), trunc(queries))
      .select(col("query_id"), col("neighbor_id"), col("rank").as("trunc_rank"))
      .localCheckpoint()
    val overlap = kFull
      .join(broadcast(kTrunc), Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("overlap_k"))
    val top1 = kFull.where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("full_top1"))
    val tr = kTrunc.select(col("query_id").as("tq"),
      col("neighbor_id").as("tn"), col("trunc_rank"))
    top1
      .join(broadcast(tr), top1("query_id") === tr("tq") &&
        top1("full_top1") === tr("tn"), "left")
      .select(col("query_id"), col("full_top1"), col("trunc_rank"))
      .join(broadcast(overlap), Seq("query_id"), "left")
      .select(col("query_id"), col("full_top1"), col("trunc_rank"),
        coalesce(col("overlap_k"), lit(0L)).as("overlap_k"))
  }
}
