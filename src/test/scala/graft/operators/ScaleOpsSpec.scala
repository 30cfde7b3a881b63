package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.queries.Tables

/**
 * Proofs for the scale-safe paths: each banded/bounded formulation must return
 * exactly what its quadratic twin returns on the test corpus — banding
 * generates candidates, exact verification decides, so the only way to lose a
 * pair is a candidate miss, and these tests pin recall at 1.0 where the
 * parameters guarantee it.
 */
class ScaleOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docShingles = Tables.documents(spark, sf)
    .where(col("doc_id") % 3 === 0)
    .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))

  private def embSubset = Tables.embeddings(spark, sf)
    .where(col("vec_id") % 5 === 0)
    .select(col("vec_id").as("id"), V.asDouble(col("embedding")).as("vec"))

  test("guarded simhash candidates equal all-pairs below the bucket cap") {
    val allPairs = Dedup.simhashPairs(docShingles, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val guarded = Dedup.simhashCandidatesGuarded(docShingles, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(allPairs.nonEmpty, "corpus should contain simhash near-dups")
    // pigeonhole: <= 12 flips over 13 chunks must leave one chunk untouched,
    // so banding cannot miss a qualifying pair; Hamming verify is exact
    assert(guarded == allPairs)
  }

  test("guarded simhash recalls identical-signature twins under all-hot buckets") {
    // maxBucket = 2 degrades every chunk bucket AND every oversize
    // identical-sig class of this corpus to star pairs. The structural
    // ham-0 contract under full degradation (post the ADVICE r15 clique
    // guard): every planted twin is CONNECTED to its original — directly
    // when its sig class is within the cap, through the class rep's star
    // when the class itself is hot. Either way the dedup clustering the
    // channel exists for (components over candidates) can never split a
    // ham-0 twin from its original.
    val twins = docShingles.unionByName(
      docShingles.select((col("id") + 1000000000L).as("id"), col("shingles")))
    val got = Dedup.simhashCandidatesGuarded(twins, 3, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find over the candidate edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    got.foreach { case (a, b) => parent(find(a)) = find(b) }
    val ids = docShingles.select(col("id")).collect().map(_.getLong(0))
    val split = ids.filter(id => find(id) != find(id + 1000000000L))
    assert(split.isEmpty,
      s"twin pairs disconnected under degradation: ${split.take(5).toSeq}")
    // and at the PRODUCTION cap the pairs are direct (no degradation here)
    val direct = Dedup.simhashCandidatesGuarded(twins, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = ids.map(id => (id, id + 1000000000L)).toSet
    assert(expected.subsetOf(direct),
      s"missing direct twin pairs at the default cap: ${expected -- direct}")
  }

  test("the identical-signature clique channel is itself bucket-guarded " +
    "(ADVICE r15): a mega class emits stars, never class² pairs") {
    // 60 byte-identical documents = one identical-sig class of 60 — over
    // maxBucket = 50 BOTH channels (chunk buckets and the sig clique) must
    // degrade to the star shape: exactly the 59 (class-min, member) pairs,
    // not C(60,2) = 1770; connectivity and rep-twin ham-0 recall intact
    val seed = docShingles.orderBy(col("id")).limit(1)
    val mega = seed.select(
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.expr("sequence(0, 59)")).as("k"),
        col("shingles"))
      .select(col("k").cast("long").as("id"), col("shingles"))
    val got = Dedup.simhashCandidatesGuarded(mega, 3, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stars = (1L to 59L).map(x => (0L, x)).toSet
    assert(got == stars,
      s"expected the 59 star pairs, got ${got.size} pairs")
  }

  test("incremental candidates equal the cross-boundary slice of symmetric LSH") {
    // one-sided (new ⋈ existing) banding must find exactly the verified
    // pairs the symmetric path finds that cross the split — no more
    // (existing×existing never materializes) and no fewer (recall)
    val all = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))
    val half = (all.agg(org.apache.spark.sql.functions.max(col("id")))
      .head.getLong(0) + 1) / 2
    val sym = Dedup.verifyJaccard(
        Dedup.minhashCandidates(all, k = 36, bands = 12), all, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // symmetric emits a < b; reorient to (new, existing)
      .collect { case (a, b, j) if a < half && b >= half => (b, a, j) }.toSet
    val inc = Dedup.verifyJaccard(
        Dedup.incrementalCandidates(
          all.where(col("id") >= half), all.where(col("id") < half), 36, 12),
        all, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sym.nonEmpty, "corpus should contain cross-boundary near-dups")
    assert(inc == sym)
  }

  test("embedding near-dup LSH returns exactly the all-pairs result (recall 1.0)") {
    val e = embSubset
    val a = e.select(col("id").as("a"), col("vec").as("va"))
    val b = e.select(col("id").as("b"), col("vec").as("vb"))
    val allPairs = a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"), round(V.cosineNative(col("va"), col("vb")), 4).as("cos"))
      .where(col("cos") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.nearDupLsh(e, dim = 64, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(allPairs.nonEmpty, "subset should contain near-dup pairs at 0.3")
    // exact-cosine verify ⇒ precision 1.0 by construction; with 2-bit × 16
    // tables the candidate miss probability is (1 - p²)^16 per pair and the
    // deterministic signatures give measured recall 1.0 on this corpus
    assert(lsh == allPairs)
  }

  test("hyperplane_sig_words equals bit-slices of the single-long signature") {
    // word t of the array form must reproduce planes [t*bpw, (t+1)*bpw) of
    // the single-long signature wherever both are defined — banding built on
    // the words is value-identical to the shiftright slicing it replaced
    val e = embSubset
    val bpw = 7; val nw = 8 // 56 planes: the r14 q34 parameters
    val words = e.select(col("id"),
        V.hyperplaneSignatureWordsNative(col("vec"), 64, bpw, nw).as("w"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val single = e.select(col("id"),
        V.hyperplaneSignatureNative(col("vec"), 64, bpw * nw).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(words.nonEmpty)
    val mask = (1L << bpw) - 1
    words.foreach { case (id, ws) =>
      assert(ws.length == nw)
      ws.zipWithIndex.foreach { case (w, t) =>
        assert(w == ((single(id) >> (t * bpw)) & mask),
          s"id $id word $t disagrees with the single-long slice")
      }
    }
    // past the 62-bit ceiling: 20-bit × 8 tables = 160 planes, well-formed
    // and non-degenerate (some word uses bits above the old per-table width)
    val wide = e.select(V.hyperplaneSignatureWordsNative(col("vec"), 64, 20, 8))
      .collect().map(_.getSeq[Long](0))
    assert(wide.forall(_.length == 8))
    assert(wide.flatten.exists(_ > mask), "wide keys should exceed 7-bit range")
  }

  test("identical-signature cliques survive hot-bucket degradation (q34 recall)") {
    // maxBucket = 2 forces EVERY bucket through the star fallback; the
    // dedicated identical-full-signature channel must still enumerate the
    // planted twin pairs — structural recall independent of bucket heat
    val base = embSubset
    val corpus = base.unionByName(
      base.where(col("id") % 25 === 0)
        .select((col("id") + 1000000000L).as("id"),
          transform(col("vec"), x => x * 2).as("vec")))
    val expected = corpus.select(col("id").as("a"), col("vec").as("va"))
      .join(corpus.select(col("id").as("b"), col("vec").as("vb")), col("a") < col("b"))
      .select(col("a"), col("b"), round(V.cosineNative(col("va"), col("vb")), 4).as("cos"))
      .where(col("cos") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "planted twins must qualify at 0.9")
    val got = Similarity.nearDupLsh(corpus, dim = 64, threshold = 0.9,
        bitsPerTable = 20, nTables = 8, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("topk_by aggregate equals the window row_number formulation") {
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), V.asDouble(col("embedding")).as("vec"))
    val queries = corpus.where(col("id") % 100 === 0)
    val viaAgg = Similarity.knnBruteForce(corpus, queries, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val viaWindow = corpus.select(col("id").as("neighbor_id"), col("vec"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        V.cosineNative(col("vec"), col("qvec")).as("cos"))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaAgg.nonEmpty)
    assert(viaAgg == viaWindow)
  }

  test("hot LSH buckets fall back to linear star pairs, preserving connectivity") {
    import spark.implicits._
    // 1000 docs with IDENTICAL feature sets: every band bucket holds all ids,
    // which under all-pairs enumeration would be ~500k pairs per band
    val degenerate = (1L to 1000L).map(i => (i, "alpha beta gamma delta"))
      .toDF("id", "text")
      .select(col("id"), T.shingles(col("text"), 2).as("shingles"))
    val pairs = Dedup.minhashCandidates(degenerate, 36, 12, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // star pattern: every id pairs with the bucket minimum — O(n) edges that
    // keep the whole duplicate cluster one connected component
    assert(pairs.length == 999)
    assert(pairs.forall(_._1 == 1L))
    assert(pairs.map(_._2).toSet == (2L to 1000L).toSet)
  }

  test("hot IVF cells fall back to anchor-star pairs, preserving connectivity") {
    import spark.implicits._
    // 400 identical embeddings: one cell holds everything, all-pairs within
    // it would be ~80k candidate rows; the guard must emit exactly the star
    val corpus = (1L to 400L).map(i => (i, Seq(1.0, 2.0, 3.0)))
      .toDF("id", "vec")
    val cents = Ivf.selectCentroids(corpus, col("id") === 1)
    val pairs = Similarity.semanticPairs(corpus, cents, tau = 0.9, maxCell = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // star pattern: every member pairs with the cell's minimum-id anchor
    assert(pairs.length == 399)
    assert(pairs.forall(_._1 == 1L))
    assert(pairs.map(_._2).toSet == (2L to 400L).toSet)
    // below the cap the exact all-pairs enumeration is untouched
    val smallCorpus = (1L to 10L).map(i => (i, Seq(1.0, 2.0, 3.0)))
      .toDF("id", "vec")
    val smallCents = Ivf.selectCentroids(smallCorpus, col("id") === 1)
    assert(Similarity.semanticPairs(smallCorpus, smallCents, 0.9).count() == 45)
  }

  test("hot existing-side buckets collapse to one representative in incremental LSH") {
    import spark.implicits._
    def docs(ids: Range) = ids.map(i => (i.toLong, "alpha beta gamma delta"))
      .toDF("id", "text")
      .select(col("id"), T.shingles(col("text"), 2).as("shingles"))
    // 500 identical existing docs: every band bucket is a mega-bucket; each
    // new doc must join ONE representative (the bucket minimum), not all 500
    val inc = Dedup.incrementalCandidates(
        docs(1001 to 1005), docs(1 to 500), 36, 12, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == (1001L to 1005L).map(n => (n, 1L)).toSet)
    // under the cap the full existing side joins — candidates are exhaustive
    val full = Dedup.incrementalCandidates(
        docs(1001 to 1002), docs(1 to 20), 36, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == (for (n <- 1001L to 1002L; o <- 1L to 20L) yield (n, o)).toSet)
  }

  test("minhash candidates ignore empty-shingle docs on both kernel paths") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("a b", "b c")), (2L, Seq("a b", "b c")),
      (3L, Seq.empty[String]), (4L, Seq.empty[String]))
      .toDF("id", "shingles")
    val pairs = Dedup.minhashCandidates(docs, 36, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the two empty docs must NOT collide into a bucket pair
    assert(pairs == Set((1L, 2L)))
  }

  test("native cdc_bounds equals the HOF rolling-hash filter on adversarial inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val texts = Seq("", "1234567", "12345678", "123456789",
      "aaaaaaaaaaaaaaaaaaaaaaaa", ("word " * 60).trim,
      // non-ASCII: the kernel must fold CODE POINTS (2- and 3-byte UTF-8,
      // positions counted in characters) to match ascii(substr(text, i, 1))
      "héllo wörld déjà vu résumé naïve café crème brûlée",
      "日本語のテキストとmixed ascii content here",
      "αβγδεζηθικλμνξοπρστυφχψω " * 3) ++
      (0 until 50).map(_ => (0 until rnd.nextInt(200))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString) ++
      // random mixed-width strings: ASCII + Latin-1 + CJK interleaved
      (0 until 20).map(_ => (0 until rnd.nextInt(120)).map(_ =>
        rnd.nextInt(3) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar
          case 1 => ('à' + rnd.nextInt(20)).toChar
          case _ => ('一' + rnd.nextInt(100)).toChar
        }).mkString)
    val df = texts.toDF("text")
    val native = df.select(call_function("cdc_bounds", col("text")))
      .collect().map(_.getSeq[Long](0).toList)
    // the HOF twin (and the oracle SQL's formulation)
    val L = length(col("text"))
    def rollingHash(i: org.apache.spark.sql.Column) =
      aggregate(sequence(lit(0), lit(7)), lit(0L), (acc, k) =>
        pmod(acc * 31 + ascii(col("text").substr(i - 7 + k, lit(1))),
          lit(1048576L)))
    val hof = df.select(filter(
        when(L >= 8, sequence(lit(8L), L.cast("long")))
          .otherwise(array().cast("array<bigint>")),
        i => rollingHash(i.cast("int")) % 32 === 0))
      .collect().map(_.getSeq[Long](0).toList)
    assert(native.toList == hof.toList)
    assert(native.flatten.nonEmpty, "some boundary should exist across the corpus")
  }

  test("cdc_bounds kernel survives malformed UTF-8 (truncated and lone-continuation bytes)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.CdcBoundsKernel
    val rnd = new scala.util.Random(7)
    val cases = Seq[Array[Byte]](
      Array(0xc3.toByte),                                  // lone 2-byte lead at EOF
      Array('a'.toByte, 0xe4.toByte, 0xb8.toByte),          // truncated 3-byte seq
      Array(0xf0.toByte, 0x9f.toByte),                      // truncated 4-byte seq
      Array(0x80.toByte, 0xbf.toByte, 'x'.toByte),          // lone continuation bytes
      ("boilerplate chunk " * 5).getBytes("UTF-8") ++ Array(0xc3.toByte)
    ) ++ (0 until 200).map { _ =>
      Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)  // arbitrary byte soup
    }
    cases.foreach { bytes =>
      val out = CdcBoundsKernel.bounds(UTF8String.fromBytes(bytes))
      // boundaries are 1-based code-point positions within the string
      (0 until out.numElements()).foreach { i =>
        val v = out.getLong(i)
        assert(v >= 8 && v <= bytes.length, s"boundary $v out of range for ${bytes.length} bytes")
      }
    }
    // valid UTF-8 must decode exactly as before the malformed-input hardening
    val valid = UTF8String.fromString("héllo wörld déjà vu résumé naïve café crème brûlée")
    val got = CdcBoundsKernel.bounds(valid)
    assert((0 until got.numElements()).forall(i => got.getLong(i) <= valid.numChars()))
  }

  test("phash 128-bit compare matches BigInt cross-multiplication") {
    import graft.multimodal.Multimodal.mulGt
    val rnd = new scala.util.Random(13)
    // domain: cell/total sums up to 765 * n with n up to ~7.1e8 pixels
    def sample(): Long = rnd.nextInt(3) match {
      case 0 => rnd.nextLong(765L * 715000000L)
      case 1 => rnd.nextLong(1000L)
      case _ => 765L * 715000000L - rnd.nextLong(1000L)
    }
    (0 until 5000).foreach { _ =>
      val (a, b, c, d) = (sample(), sample(), sample(), sample())
      assert(mulGt(a, b, c, d) == (BigInt(a) * BigInt(b) > BigInt(c) * BigInt(d)),
        s"mulGt($a,$b,$c,$d)")
    }
    // the exact overflow shape from the finding: ts*cn wraps negative in 64-bit
    val n = 715000000L; val ts = 765L * n; val cn = n / 32
    assert(ts * cn < 0, "sanity: this product overflows Long")
    assert(!mulGt(ts / 32 - 1, n, ts, cn) && mulGt(ts / 32 + 32, n, ts, cn))
  }

  test("native word_ngrams equals the HOF shingle chain on adversarial inputs") {
    import spark.implicits._
    val texts = Seq(
      "", " ", "a", "a b", "a b c d e", "a  b", "a b ", " a b",
      "x x x x", "one two three two one", "a b c b a b c",
      ("word " * 50).trim)
    for (n <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("text")
      val native = df.select(call_function("word_ngrams", col("text"), lit(n)))
        .collect().map(_.getSeq[String](0).toList)
      val hof = df.select(T.shingles(col("text"), n))
        .collect().map(_.getSeq[String](0).toList)
      assert(native.toList == hof.toList, s"n=$n")
    }
  }

  test("native minhash_signature returns null for an empty shingle array") {
    val row = spark.sql(
      "SELECT minhash_signature(CAST(array() AS ARRAY<STRING>), 8) AS sig").first()
    assert(row.isNullAt(0))
  }

  test("cosine_sim matches HOF null semantics on ragged and null-element arrays") {
    val df = spark.sql(
      """SELECT
         cosine_sim(array(1.0D, 2.0D), array(1.0D, 2.0D, 3.0D)) AS ragged,
         cosine_sim(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS withNull,
         cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS clean""")
    val r = df.first()
    assert(r.isNullAt(0), "unequal lengths must yield null (zip_with pads with null)")
    assert(r.isNullAt(1), "a null element must propagate to null")
    assert(r.getDouble(2) == 1.0)
  }

  test("native hyperplane_sig equals the built-in expression-tree formulation") {
    val e = embSubset
    val native = e.select(col("id"), V.hyperplaneSignatureNative(col("vec"), 64, 32).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hof = e.select(col("id"), V.hyperplaneSignature(col("vec"), 64, 32).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(native.nonEmpty)
    assert(native == hof)
  }

  test("native simhash62 and min_hash60 equal their HOF formulations") {
    val docs = docShingles
    val hashed = docs.select(col("id"),
      transform(col("shingles"), s => T.hash60(s)).as("hs"))
    val nativeSim = hashed.select(col("id"), call_function("simhash62", col("hs")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hofSim = hashed.select(col("id"), T.simhash62("hs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(nativeSim.nonEmpty && nativeSim == hofSim)
    val nativeFp = docs.select(col("id"), call_function("min_hash60", col("shingles")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hofFp = docs.select(col("id"),
      array_min(transform(col("shingles"), s => T.hash60(s))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(nativeFp.nonEmpty && nativeFp == hofFp)
  }

  test("cosine rewrite rule skips lambdas that don't bind both arguments in order") {
    val e = embSubset
    val a = e.select(col("id").as("a"), col("vec").as("va"))
    val b = e.select(col("id").as("b"), col("vec").as("vb"))
    // cosine-shaped expression whose "dot" is (x, y) -> x * x: NOT a dot
    // product, must not be rewritten to cosine_sim
    def fsum(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0.0), (acc, x) => acc + x)
    val fakeDot = fsum(zip_with(col("va"), col("vb"), (x, _) => x * x))
    val nn = sqrt(fsum(transform(col("va"), x => x * x))) *
      sqrt(fsum(transform(col("vb"), x => x * x)))
    val pairs = a.join(b, col("a") < col("b") && col("b") - col("a") < 5)
      .select(when(nn === 0, 0.0).otherwise(fakeDot / nn).as("notCos"))
    val optimized = pairs.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"), optimized)
  }

  test("df-capped postings join bounds a planted hot shingle to star pairs") {
    import spark.implicits._
    // 1000 docs whose EVERY shingle is mass-shared: the unguarded postings
    // join would enumerate ~500k pairs per shingle on one key. Above the df
    // cap, pair generation must collapse to the per-shingle star (O(df)),
    // and the array-based verify still emits exact jac values.
    val degenerate = (1L to 1000L)
      .map(i => (i, Seq("hot alpha", "hot beta")))
      .toDF("id", "shingles")
    val pairs = Dedup.allPairsJaccard(degenerate, 0.5, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 999)
    assert(pairs.forall(p => p._1 == 1L && p._3 == 1.0))
    assert(pairs.map(_._2).toSet == (2L to 1000L).toSet)
    // containment: same star collapse, two directed rows per star pair
    val cont = Dedup.containmentPairs(degenerate, 800000L, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cont.length == 2 * 999)
    assert(cont.count(_._2 == 1L) == 999 && cont.count(_._1 == 1L) == 999)
  }

  test("df-capped Jaccard restores hot-shingle counts exactly for cold candidates") {
    import spark.implicits._
    // docs 1-2 share a COLD shingle ("pair x") and the HOT boilerplate: the
    // capped path finds them via the cold join and must credit the hot
    // shingle back — jac = |{hot, pair}| / |{hot, pair, u1, u2}| = 0.5
    // exactly, not the cold-only 1/4. Background docs share only the hot
    // shingle with everything (star-verified at 1/4 < threshold → dropped).
    val docs = ((1L to 2L).map(i => (i, Seq("hot b", "pair x", s"u $i"))) ++
      (3L to 200L).map(i => (i, Seq("hot b", s"u $i"))))
      .toDF("id", "shingles")
    val capped = Dedup.allPairsJaccard(docs, 0.5, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == Set((1L, 2L, 0.5)))
    // below the binding point the guard is inert: default cap reproduces the
    // same result through the unguarded plan
    val uncapped = Dedup.allPairsJaccard(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(uncapped == capped)
    // containment both directions, hot credit included: shared=2, sa=sb=3
    // → 666666 fp < 800000; against a true superset doc it reaches 1e6
    val sup = (Seq((300L, Seq("hot b", "pair x", "u 1", "extra z"))) ++
      Seq((1L, Seq("hot b", "pair x", "u 1"))) ++
      (3L to 200L).map(i => (i, Seq("hot b", s"u $i"))))
      .toDF("id", "shingles")
    val cont = Dedup.containmentPairs(sup, 1000000L, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(cont == Set((1L, 300L, 1000000L)))
  }

  test("duplicateSpans census is combinable under a planted mega-occurrence digest") {
    import spark.implicits._
    // 4000 docs each embedding the SAME 3-token run plus unique tails: ONE
    // digest occurs 4000 times. The former count() OVER (PARTITION BY dg)
    // formulation would land every raw row of that digest in one
    // unsplittable window partition on one task; the census must instead be
    // a map-side-combinable aggregate (the hot digest collapses to one row
    // per map partition before the exchange) with a plain semi-join back
    // that AQE's skew-join can split.
    val docs = (1L to 4000L)
      .map(i => (i, Seq("dup", "dup", "dup", s"u$i", s"v$i")))
      .toDF("id", "w")
    val spans = Dedup.duplicateSpans(docs, n = 3, minOcc = 2)
    val rows = spans.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // only the i=0 window is shared → one (0, 3) span per doc, all 4000 docs
    assert(rows.length == 4000)
    assert(rows.forall(r => r._2 == 0 && r._3 == 3 && r._4 == 3))
    assert(rows.map(_._1).toSet == (1L to 4000L).toSet)
    // structural pin: the occurrence census is a partial-then-final
    // aggregate over dg, never a window partitioned by dg (coalesceSpans's
    // per-id window is the only window in the plan)
    val plan = spans.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(dg"), "census must not be a window over dg")
    assert(plan.contains("partial_count"), "census must have a map-side partial phase")
  }

  test("connected components converge on chains, cliques, and singleton edges") {
    import spark.implicits._
    // a 10-node path (diameter 9 → exercises the fixpoint loop), a triangle,
    // and an isolated pair
    val edges = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)))
      .toDF("a", "b")
    val comps = Dedup.components(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (1L to 10L).foreach(i => assert(comps(i) == 1L, s"node $i"))
    (20L to 22L).foreach(i => assert(comps(i) == 20L, s"node $i"))
    assert(comps(30L) == 30L && comps(31L) == 30L)
    assert(comps.size == 15)
  }

  test("componentsStar == components on chains, cliques, and shuffled ids") {
    import spark.implicits._
    val edges = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)))
      .toDF("a", "b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(toMap(Dedup.componentsStar(edges)) == toMap(Dedup.components(edges)))
    // long chain with SCRAMBLED ids (the component min sits mid-chain, so
    // star contraction must move labels against the edge direction too);
    // diameter 63 — min-label propagation needs 64 rounds, star contraction
    // converges inside its default O(log n) cap of 40
    val ids = new scala.util.Random(7).shuffle((100L to 163L).toVector)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val star = toMap(Dedup.componentsStar(chain))
    assert(star.values.toSet == Set(100L), "single component labeled by its min")
    assert(star.keySet == (100L to 163L).toSet)
    assert(star == toMap(Dedup.components(chain, maxIters = 100)))
    // empty edge set → empty labeling, not a crash
    assert(Dedup.componentsStar(Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
  }

  test("tf-idf df-cap bounds a planted mega-df term to star pairs") {
    import spark.implicits._
    // 400 of 1000 docs share one term that passes the RELATIVE prune
    // (df·2 = 800 ≤ 1000) but would put ~80k pairs on one join key; above
    // the absolute cap, pair generation must collapse to the per-term star
    // (399 pairs against the min id), scored exactly from full postings.
    val toks = ((1L to 400L).flatMap(i => Seq((i, "hot"), (i, s"u$i"))) ++
      (401L to 1000L).map(i => (i, s"f$i")))
      .toDF("id", "term")
    val rows = Similarity.tfidfCosinePairs(toks, maxDfDenom = 2,
        minCosPpm = 0L, maxDf = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 399, s"expected 399 star pairs, got ${rows.length}")
    assert(rows.forall(_._1 == 1L))
    assert(rows.map(_._2).toSet == (2L to 400L).toSet)
    // exact fixed-point score through the star path: wt(hot) = 1000·1 div
    // 400 = 2, wt(u_i) = 1000, norm = ⌊√1000004⌋ = 1000, dot = 4 →
    // cos_ppm = 4·10⁶ div 10⁶ = 4; n_shared = 1
    assert(rows.forall(r => r._3 == 1L && r._4 == 4L))
  }

  test("tf-idf df-cap restores hot-term dot products exactly for cold candidates") {
    import spark.implicits._
    // docs 1-2 share a COLD term ("pair") and the HOT boilerplate ("hb");
    // background docs share only "hb". The capped path finds (1,2) via the
    // cold join and must credit the hot term's weight product back into the
    // dot, the shared count, and survive the Cauchy-Schwarz prune.
    val toks = ((1L to 2L).flatMap(i => Seq((i, "hb"), (i, "pair"), (i, s"u$i"))) ++
      (3L to 200L).flatMap(i => Seq((i, "hb"), (i, s"u$i"))))
      .toDF("id", "term")
    def run(maxDf: Long, minCos: Long) =
      Similarity.tfidfCosinePairs(toks, maxDfDenom = 1, minCos, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val capped = run(50L, 0L)
    val uncapped = run(1000000L, 0L)
    // the shared-cold pair carries the exact uncapped value through the
    // correction join: wt(hb) = 5, wt(pair) = 500, wt(u) = 1000; dot =
    // 25 + 250000; norms = ⌊√1250025⌋ = 1118 → cos_ppm = 200032, 2 shared
    val one2 = (1L, 2L, 2L, 200032L)
    assert(capped.contains(one2))
    assert(uncapped.contains(one2))
    // capped output is the exact pair + the hot star (1, j) — 199 rows
    // total (the (1,2) star row dedups against the exact row: identical)
    assert(capped.length == 199)
    assert(capped.forall(_._1 == 1L))
    // uncapped enumerates every hot-only background pair too
    assert(uncapped.length == 200 * 199 / 2)
    // a threshold above the star scores must keep ONLY the exact pair —
    // proving the upper-bound prune never drops a qualifying candidate
    assert(run(50L, 200000L).toSeq == Seq(one2))
    // below the binding point the guard is inert: default cap reproduces
    // the unguarded candidate set exactly
    assert(run(10000L, 0L).toSet == uncapped.toSet)
  }
}
