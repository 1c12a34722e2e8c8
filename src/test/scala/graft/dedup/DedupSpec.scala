package graft.dedup

import org.apache.spark.sql.functions._
import graft.GraftSuite

class DedupSpec extends GraftSuite {
  import spark.implicits._

  // 1,2 exact dups; 3 near-dup of 1 (one word changed); 4 unrelated
  val base = "the quick brown fox jumps over the lazy dog again and again ok"
  lazy val docs = Seq(
    (1L, base),
    (2L, base),
    (3L, base.replace("lazy", "sleepy")),
    (4L, "completely different content about spark shuffles and parquet files here"),
    (5L, "The quick brown fox, jumps over the lazy dog again and again ok!"))
    .toDF("doc_id", "text").cache()

  test("exact duplicates by digest") {
    val d = Dedup.exactDuplicates(docs, "doc_id", "text").collect()
    assert(d.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("normalized duplicates catch case/punctuation variants") {
    val d = Dedup.exactDuplicates(docs, "doc_id", "text", normalize = true)
      .select("kept_id", "dup_id").as[(Long, Long)].collect().toSet
    assert(d == Set((1L, 2L), (1L, 5L)))
  }

  test("minhash signatures: near-dups agree on most positions") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text").cache()
    assert(sig.count() == 5)
    val cand = Dedup.minhashLshCandidates(sig, "doc_id", bands = 16,
      estJaccardMin = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)) && cand.contains((1L, 3L)))
    assert(!cand.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash est_jaccard tracks exact jaccard") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val est = Dedup.minhashLshCandidates(sig, "doc_id", bands = 16,
      estJaccardMin = 0.0)
      .where(col("a_id") === 1 && col("b_id") === 3)
      .select("est_jaccard").as[Double].collect()
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      .where(col("a_id") === 1 && col("b_id") === 3)
      .select("jaccard").as[Double].collect()
    assert(est.nonEmpty && exact.nonEmpty)
    assert(math.abs(est(0) - exact(0)) < 0.25, s"est=${est(0)} exact=${exact(0)}")
  }

  test("OPH signatures: dense, deterministic, repartition-invariant, LSH-compatible") {
    val sig = Dedup.minhashSignaturesOph(docs, "doc_id", "text").cache()
    val rows = sig.select("doc_id", "signature")
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(rows.length == 5)
    // the Seq[Long] encoder itself proves density: a null (undensified)
    // element would fail the collect
    assert(rows.forall(_._2.length == 64), "fixed signature length")
    // identical text → identical signature; determinism across partitioning
    val byId = rows.toMap
    assert(byId(1L) == byId(2L))
    val re = Dedup.minhashSignaturesOph(docs.repartition(7), "doc_id", "text")
      .select("doc_id", "signature").as[(Long, Seq[Long])].collect().toMap
    assert(re == byId, "partitioning must not change signatures")
    // the near-dup pair agrees on far more positions than the unrelated one
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(agree(byId(1L), byId(3L)) > agree(byId(1L), byId(4L)) + 10,
      s"near-dup ${agree(byId(1L), byId(3L))} vs unrelated ${agree(byId(1L), byId(4L))}")
    // drop-in banding compatibility: the SAME LSH candidate generator
    // finds the exact-dup and near-dup pairs over OPH signatures
    val cand = Dedup.minhashLshCandidates(sig, "doc_id", bands = 16,
      estJaccardMin = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)) && cand.contains((1L, 3L)))
    assert(!cand.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("OPH est tracks exact jaccard at one hash per shingle") {
    val sig = Dedup.minhashSignaturesOph(docs, "doc_id", "text")
    val est = Dedup.minhashLshCandidates(sig, "doc_id", bands = 16,
      estJaccardMin = 0.0)
      .where(col("a_id") === 1 && col("b_id") === 3)
      .select("est_jaccard").as[Double].collect()
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      .where(col("a_id") === 1 && col("b_id") === 3)
      .select("jaccard").as[Double].collect()
    assert(est.nonEmpty && exact.nonEmpty)
    assert(math.abs(est(0) - exact(0)) < 0.3, s"est=${est(0)} exact=${exact(0)}")
  }

  test("OPH: zero-shingle docs emit no signature row") {
    val weird = Seq((1L, "one two three four"), (2L, "two tokens"),
      (3L, ""), (4L, "...!!!"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ids = Dedup.minhashSignaturesOph(weird, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L), s"only the >=3-token doc signs, got $ids")
  }

  test("simhash near-dups: small hamming for near-dups, pairs found") {
    val sims = Dedup.simhash(docs, "doc_id", "text").cache()
    val m = sims.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L)) // identical text → identical simhash
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) <
      java.lang.Long.bitCount(m(1L) ^ m(4L)))
    val pairs = Dedup.simhashNearDups(sims, "doc_id", maxHamming = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash signatures equal the per-bit conditional-sum form, bit 63 included") {
    val corpus = graft.sources.Tables.documents(spark, sfTiny)
      .select("doc_id", "text").unionByName(docs)
    for ((bits, portable, sims) <- Seq(
        (64, false, Dedup.simhash(corpus, "doc_id", "text")),
        (60, true, Dedup.simhashReproducible(corpus, "doc_id", "text")))) {
      val votes = graft.text.TextKernels.simhashVotesCol(col("text"), bits, portable)
      val sums = (0 until bits).map(b => sum(element_at(col("__v"), b + 1)).as(s"b_$b"))
      val reference = corpus.select(col("doc_id"), votes.as("__v"))
        .where(col("__v").isNotNull).groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), (0 until bits).map(b =>
          when(col(s"b_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
      assert(sims.schema == reference.schema, sims.schema.treeString)
      assert(sims.exceptAll(reference).count() == 0 &&
        reference.exceptAll(sims).count() == 0, s"$bits-bit signatures differ")
      if (bits == 64) assert(sims.where(col("simhash") < 0).count() > 0,
        "no signature sets bit 63")
    }
  }

  test("exact ngram jaccard matches hand computation") {
    val two = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("doc_id", "text")
    // 3-shingles: {abc,bcd,cde} vs {abc,bcd,cdx}: inter=2, union=4 → 0.5
    val j = Dedup.ngramJaccardPairs(two, "doc_id", "text", shingleK = 3,
      threshold = 0.0).select("jaccard").as[Double].collect()
    assert(j.length == 1 && math.abs(j(0) - 0.5) < 1e-12)
  }

  test("null text rows are never reported as duplicates of each other") {
    val withNulls = Seq((1L, Some(base)), (2L, Some(base)),
      (10L, None), (11L, None), (12L, None)).toDF("doc_id", "text")
    val pairs = Dedup.exactDuplicates(withNulls, "doc_id", "text")
      .select("kept_id", "dup_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)), s"got ${pairs.toSeq}")
  }

  test("non-divisor bands is rejected, not silently misaligned") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 64)
    val ex = intercept[IllegalArgumentException] {
      Dedup.minhashLshCandidates(sigs, "doc_id", bands = 10).count()
    }
    assert(ex.getMessage.contains("divide"))
  }

  test("hot-shingle cap filters sizes AND intersections consistently") {
    // 'common' is in every doc (hot); docs 1/2 share their remaining
    // 4 shingles exactly => jaccard 1.0 over the filtered universe
    val hot = Seq(
      (1L, "common alpha beta gamma delta"),
      (2L, "common alpha beta gamma delta"),
      (3L, "common zeta eta theta iota"),
      (4L, "common kappa lambda mu nu")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(hot, "doc_id", "text", shingleK = 1,
      threshold = 0.9, maxDocsPerShingle = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)),
      s"sizes must use the same filtered shingles as the intersection: ${got.toSeq}")
  }

  test("verifyJaccard: duplicate id rows collapse to the shingle-set union") {
    // doc 1 appears TWICE with the same text: one doc whose shingle set is
    // the union over its rows. 10-token texts → 8 shingles each; 4 shared
    // ("a b c".."d e f") → true j = 4 / (8 + 8 − 4) = 1/3. Before the
    // (doc, shingle) distinct, the duplicate doubled doc 1's size and the
    // intersection: j = 8 / (16 + 8 − 8) = 0.5 — inflated above truth.
    val dup = Seq(
        (1L, "a b c d e f g h i j"),
        (1L, "a b c d e f g h i j"),
        (2L, "a b c d e f q r s t"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val j = Dedup.verifyJaccard(dup, pairs, "doc_id", "text", shingleK = 3,
      threshold = 0.0).select("jaccard").as[Double].collect()
    assert(j.length == 1 && math.abs(j(0) - 1.0 / 3.0) < 1e-12, j.toSeq)
  }

  test("verifyJaccard/minhashLshCandidates: track observes every persisted frame") {
    val pairs = Seq((1L, 3L)).toDF("a_id", "b_id")
    val tracked = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    Dedup.minhashLshCandidates(sigs, "doc_id", bands = 16,
      estJaccardMin = 0.4, track = tracked += _).count()
    Dedup.verifyJaccard(docs, pairs, "doc_id", "text", track = tracked += _)
      .count()
    // candidates persist signatures + the id pair set; verify persists
    // its pair arg + the candidate shingles — all four must be released
    // by a caller honoring an unpersist contract
    assert(tracked.size == 4, s"tracked ${tracked.size}")
    tracked.foreach(_.unpersist())
  }

  test("scales: dedup families run on the documents testdata") {
    val d = spark.read.parquet(s"$sfTiny/documents.parquet")
    assert(Dedup.exactDuplicates(d, "doc_id", "text").count() >= 0)
    val sig = Dedup.minhashSignatures(d, "doc_id", "text")
    assert(sig.count() == d.count())
    assert(Dedup.simhash(d, "doc_id", "text").count() == d.count())
  }
}
