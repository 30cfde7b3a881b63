package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config.ExtractionConfig
import graft.functions.{TextFunctions => T}
import graft.operators.Dedup
import graft.xml.XmlExtraction

/**
 * The declarative entry surface: every star-schema table and the flagship
 * operator outputs registered as TEMP VIEWS, so the whole suite is drivable
 * from `spark.sql(...)` text alone — the counterpart of the reference's
 * config-driven query surface (`XmlExtractor.java:187` reads a declarative
 * extraction config; our relational/pipeline side exposes SQL). The native
 * Catalyst expressions (minhash_signature, word_ngrams, topk_by, …) are
 * already session-registered by `GraftExtensions`, so SQL text composes them
 * with these views freely.
 *
 * Table views are lazy (registering costs nothing until SQL reads one);
 * `neardup_pairs` materializes its LSH band table once at registration
 * (the [[Dedup.minhashCandidates]] eager-checkpoint contract) and every
 * later SQL query over the view reuses it. Callers wanting a durable
 * serving layer persist with [[graft.operators.CorpusOps.writeBucketed]] /
 * [[Dedup.writeBandIndex]] instead.
 */
object SqlSurface {

  /** Register all 10 star-schema tables (loader-normalized — events gets
   * the vintage-tolerant TIMESTAMP ts) as `<name>` temp views. */
  def registerTables(spark: SparkSession, sfDir: String): Unit = {
    Tables.region(spark, sfDir).createOrReplaceTempView("region")
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.supplier(spark, sfDir).createOrReplaceTempView("supplier")
    Tables.part(spark, sfDir).createOrReplaceTempView("part")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings")
  }

  /** Flagship operator outputs as views over the registered tables:
   *  - `dedup_exact`   — content-hash groups (keep id, group size);
   *  - `neardup_pairs` — MinHash-LSH candidates verified at exact Jaccard
   *    ≥ 0.8 (q32's operator chain);
   *  - `duplicate_spans` — exact ≥10-token duplicated regions (q115);
   *  - `leakage_split` — near-dup-cluster-atomic train/val/test assignment
   *    (q116: a doc and its near-duplicate never straddle the split);
   *  - `doc_chunks`    — 32-token/stride-24 overlapping RAG chunks (q122);
   *  - `doc_clean`     — corpus-common-unit-removed rebuilt text (q124);
   *  - `doc_shingles`  — the word-2-gram feature table the dedup family
   *    shares (exposed so ad-hoc SQL can build its own detectors);
   *  - `privacy_audit` — k-anonymity/l-diversity failing classes over the
   *    event log (q128's gate, queryable before any release);
   *  - `emb_jl16`      — 16-dim JL-projected embeddings (q125's front-end
   *    for cheap ad-hoc SQL distance work);
   *  - `contamination` — training vectors semantically too close (cosine
   *    ≥ 0.3) to the held-out benchmark split (q129's paraphrase-leakage
   *    gate);
   *  - `vocab_coverage` — top-5/10/25 vocabulary token-mass coverage
   *    (q130's tokenizer-design report);
   *  - `neardup_triangles` — triangles of the verified near-dup graph
   *    (q137's cluster-density diagnostic, degree-oriented listing) —
   *    OPT-IN via `withTriangles`, see below.
   *
   * COST AND LIFETIME NOTE: most views are lazy, but the near-dup pair
   * pipeline materializes its LSH band table eagerly at registration (the
   * [[Dedup.minhashCandidates]] localCheckpoint contract), and
   * `neardup_triangles` would additionally run the WHOLE LSH + verify
   * pipeline plus two more checkpoint jobs up front even if the view is
   * never queried — so it is gated behind `withTriangles = true`.
   * Because localCheckpoint truncates lineage, the blanket
   * `getPersistentRDDs ... unpersist` sweep the Bench/Verify harnesses run
   * between queries PERMANENTLY breaks checkpoint-backed views (the
   * dropped blocks cannot recompute): after any such sweep, re-run
   * `registerOperatorViews` before querying them again. Long-lived serving
   * sessions should persist the band table via [[Dedup.writeBandIndex]] /
   * the pair graph via [[Dedup.writePairGraphIndex]] instead of leaning on
   * checkpoint blocks. */
  def registerOperatorViews(spark: SparkSession, sfDir: String,
                            withTriangles: Boolean = false): Unit = {
    registerTables(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val shingled = docs.select(col("doc_id").as("id"),
      T.shingles(col("text"), 2).as("shingles"))
    shingled.createOrReplaceTempView("doc_shingles")
    Dedup.exact(docs, col("doc_id"), col("text"))
      .createOrReplaceTempView("dedup_exact")
    val pairs = Dedup.verifyJaccard(
      Dedup.minhashCandidates(shingled, k = 36, bands = 12), shingled, 0.8)
    pairs.createOrReplaceTempView("neardup_pairs")
    Dedup.duplicateSpans(
        docs.select(col("doc_id").as("id"), T.tokens(col("text")).as("w")),
        n = 10, minOcc = 2)
      .createOrReplaceTempView("duplicate_spans")
    graft.operators.CorpusOps.leakageSafeSplit(docs, col("doc_id"), pairs,
        salt = "lss", trainPct = 80, valPct = 10)
      .createOrReplaceTempView("leakage_split")
    graft.operators.CorpusOps.chunkOverlap(docs, col("doc_id"), col("text"),
        chunkTokens = 32, stride = 24)
      .createOrReplaceTempView("doc_chunks")
    graft.operators.CorpusOps.lineDedup(docs, col("doc_id"), col("text"),
        unitTokens = 5, minOcc = 2)
      .createOrReplaceTempView("doc_clean")
    graft.operators.CorpusOps.kAnonymityAudit(
        Tables.events(spark, sfDir).select(col("event_type"),
          hour(col("ts")).as("hh"),
          floor(col("value") / 10).cast("long").as("vbucket"), col("user_id")),
        Seq(col("event_type"), col("hh"), col("vbucket")),
        col("user_id"), k = 5, l = 3)
      .createOrReplaceTempView("privacy_audit")
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.jlProject(
          col("embedding").cast("array<double>"),
          graft.functions.VectorFunctions.jlSigns(64, 16)).as("vec16"))
      .createOrReplaceTempView("emb_jl16")
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    graft.operators.Similarity.semanticContamination(
        corpus = vecs.where(col("id") % 10 =!= 0),
        evalSet = vecs.where(col("id") % 10 === 0),
        threshold = 0.3)
      .createOrReplaceTempView("contamination")
    graft.operators.CorpusOps.vocabCoverage(
        docs.select(explode(T.tokens(col("text"))).as("term")),
        ks = Seq(5, 10, 25))
      .createOrReplaceTempView("vocab_coverage")
    if (withTriangles)
      graft.operators.Graph.triangles(
          pairs.select(col("a").as("u"), col("b").as("v")))
        .createOrReplaceTempView("neardup_triangles")
  }

  /**
   * Register the XML parity engine's extraction output — the reference's
   * FLAGSHIP capability — as temp views over an XML corpus directory and a
   * declarative extraction config (the reference's own config format,
   * `ExtractionConfig.fromXml`/`fromProperties`), so a config-driven
   * extraction is drivable from `spark.sql(...)` text end to end:
   *  - `<prefix>_rows`  — the structured pivot (docId, seq, c0..cN);
   *  - `<prefix>_lines` — the reference's delimited text lines
   *    (trailing-delimiter + empty→space quirks included), column `line`.
   * Both views are LAZY — registration plans the scan, SQL reading the view
   * executes it — and recompute freely (no checkpoint blocks), so they
   * survive unpersist sweeps and executor loss.
   */
  def registerXmlExtraction(spark: SparkSession, xmlDir: String,
                            config: ExtractionConfig,
                            prefix: String = "xml"): Unit = {
    val rows = XmlExtraction.extractRows(
      XmlExtraction.corpusFromXmlFiles(spark, xmlDir), config)
    rows.createOrReplaceTempView(s"${prefix}_rows")
    XmlExtraction.formatLines(rows, config)
      .createOrReplaceTempView(s"${prefix}_lines")
  }
}
