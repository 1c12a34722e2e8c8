package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines, each designed as a
  * shuffle-conscious Spark plan:
  *
  *  - exact / normalized: one hash-groupBy (the 100 TB shape — group on a
  *    16-byte digest, never on the text itself);
  *  - MinHash + LSH: explode→min aggregation for signatures, banding join
  *    for candidates — quadratic blowup confined to same-band buckets;
  *  - SimHash: one elementwise vote-sum aggregate per doc, bits packed by
  *    shifts; near-dup pairs via a chunk-banding join + bit_count hamming
  *    verify;
  *  - n-gram Jaccard: inverted-index self-join (exact, for verification /
  *    small candidate sets).
  */
object Dedup {

  /** Exact duplicates by content digest: emit (kept_id, dup_id) pairs —
    * min id per digest group is kept, the rest are the dup set.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String,
      normalize: Boolean = false): DataFrame = {
    val key = if (normalize) TextAnalysis.fingerprint(col(textCol))
      else md5(col(textCol))
    val w = Window.partitionBy(col("__digest"))
    // null text has no content to compare — md5(null)=null would group
    // every contentless row into one fake "duplicate" cluster
    df.where(col(textCol).isNotNull)
      .select(col(idCol), key.as("__digest"))
      .withColumn("kept_id", min(col(idCol)).over(w))
      .where(col(idCol) =!= col("kept_id"))
      .select(col("kept_id"), col(idCol).as("dup_id"), col("__digest").as("digest"))
  }

  /** MinHash signatures: `numHashes` permutations approximated by seeded
    * xxhash64 re-hashes of the (fixed-width 64-bit) shingle hash — each
    * position an independent strong hash, so position agreement is an
    * unbiased Jaccard estimator. (A Kirsch–Mitzenmacher double-hash family
    * h1 + s·h2 was measured and rejected: min-wise argmins correlate
    * through the min-h2 shingle and est_jaccard saturates toward 1.0 —
    * double hashing spreads Bloom probes fine but is NOT min-wise
    * independent.) ONE explode + ONE groupBy with numHashes `min`
    * aggregates (map-side combined, skew-free: signature state is
    * O(numHashes) per doc regardless of doc length).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64): DataFrame = {
    // per-ROW partial mins in one kernel pass (guide §2.3: the exchange
    // carries one numHashes-long array per doc row, not one row per
    // shingle, and the inner shingle hash is computed once instead of
    // once per seed); the groupBy's elementwise mins keep duplicate-id
    // union semantics, and null partials (no shingles) are filtered
    // exactly like the explode emitting no rows. Values are bit-identical
    // to min(xxhash64(sh, lit(s))) — spec-gated in TextKernelsSpec.
    val partial = graft.text.TextKernels.minhashPartialCol(
      TextAnalysis.shingleHashes(col(textCol), shingleK), numHashes)
    df.select(col(idCol), partial.as("__mhp"))
      .where(col("__mhp").isNotNull)
      .groupBy(col(idCol))
      .agg(graft.agg.ElementAgg.min(col("__mhp"), numHashes).as("signature"))
  }

  /** One-permutation MinHash signatures (Shrivastava & Li 2014, "densified
    * OPH") — the 10^12-document path: each shingle is hashed ONCE (vs
    * once per signature position in [[minhashSignatures]] — a `buckets`×
    * cut in hash invocations; the net CPU saving is smaller because the
    * engine-portable md5 costs more per call than xxhash64, but remains a
    * multiple at the committed 64 — at identical signature length and
    * shuffle shape), the hash space is split into `buckets` bins by
    * h mod buckets, the min hash per bin is kept, and empty bins are
    * densified by cyclic rotation (bin b borrows the first non-empty bin
    * at b, b+1, … mod buckets) — the rotation keeps position agreement an
    * unbiased Jaccard estimator where plain OPH's empty bins would bias
    * it. The shingle hash is the engine-portable 60-bit md5 prefix (the
    * [[simhashReproducible]] family), so an independent engine recomputes
    * the exact signatures (q73's DuckDB twin does). Duplicate shingles
    * cannot affect a min, so set semantics hold without a distinct.
    *
    * Output (idCol, signature array<long>) is drop-in compatible with
    * [[minhashLshCandidates]] banding; docs with zero shingles (empty
    * normalized text, or fewer than `shingleK` tokens) emit no row, like
    * the SQL shingle pipeline. Scale shape: one explode + ONE
    * map-side-combined aggregation whose post-combine state is
    * O(buckets)/doc — the single exchange never carries more than the
    * signature.
    */
  def minhashSignaturesOph(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // ONE portable hash per shingle — the shared shingle pipeline with the
    // cross-engine hash swapped in (guards and normalization stay in one
    // place: TextAnalysis)
    val shingles = TextAnalysis.shingleHashesPortable(col(textCol), shingleK)
    // ONE groupBy with `buckets` bin-conditional mins (same single-exchange
    // shape as minhashSignatures, but each input row costs `buckets` int
    // comparisons instead of `buckets` hashes — the bucket id is computed
    // once per shingle)
    val aggs = (0 until buckets).map(b =>
      min(when(col("__b") === b, col("h"))).as(s"m_$b"))
    df.select(col(idCol), explode(shingles).as("h"))
      .withColumn("__b", pmod(col("h"), lit(buckets)).cast("int"))
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .withColumn("__raw",
        array((0 until buckets).map(b => col(s"m_$b")): _*))
      // rotation densify: first non-null at cyclic distance 0,1,… — the
      // doubled array makes the wrap-around a plain slice
      .select(col(idCol),
        transform(sequence(lit(0), lit(buckets - 1)),
          b => element_at(
            filter(slice(concat(col("__raw"), col("__raw")), b + 1, lit(buckets)),
              x => x.isNotNull), 1)).as("signature"))
  }

  /** LSH banding over minhash signatures → candidate pairs with estimated
    * Jaccard (= fraction of agreeing signature positions). `bands` ×
    * `rowsPerBand` must equal the signature length. Same-band-equal docs
    * join within hash buckets only; dedupe of pairs found in several bands
    * via distinct on (a, b).
    */
  /** Scale shape: the ×bands-replicated band join and the pair dedup carry
    * ids only — the 64×8-byte signatures never ride the replicated shuffle.
    * Signatures rejoin exactly once per surviving pair (two equi-joins on
    * the scalar id) to compute est_jaccard.
    *
    * The `signatures` plan is referenced THREE times (banding + the two
    * est_jaccard rejoins): it is persisted here for the duration of the
    * job so the upstream shingle-explode + min-aggregation runs ONCE
    * (profiled at sf0.1: the unpersisted plan recomputed it per consumer
    * and tripled the query wall). Signature state is O(numHashes)/doc —
    * at 10^12 turns this is the doc-count × ~0.5 KB, storage-level
    * MEMORY_AND_DISK spills the tail. The tiny id-only pair set is
    * persisted for the same reason (3 consumers downstream). `track`
    * observes every DataFrame this call persists — see [[verifyJaccard]].
    */
  /** Banding-only candidate pairs: the distinct (a_id, b_id) set the band
    * join produces, WITHOUT the est_jaccard signature rejoins. For chains
    * that exact-verify every candidate anyway (verifyJaccard at threshold
    * >= the est bound), the est prefilter is strictly dominated: the
    * verified output is identical on the superset (and identical to the
    * exact-pair oracle), while the chain drops two joins and the
    * signatures' post-banding persist (signatures feed ONE consumer
    * here, so nothing is persisted at all).
    */
  def minhashBandPairs(signatures: DataFrame, idCol: String,
      bands: Int, sigLen: Int): DataFrame = {
    require(sigLen > 0 && sigLen % bands == 0,
      s"bands=$bands must divide the signature length $sigLen")
    val banded = signatures.select(col(idCol).as("a_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_",
          slice(col("signature"), b * (sigLen / bands) + 1,
            lit(sigLen / bands)))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val r = banded.select(col("a_id").as("b_id"), col("band"), col("band_hash"))
    banded.join(r, Seq("band", "band_hash"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  def minhashLshCandidates(signatures: DataFrame, idCol: String,
      bands: Int, estJaccardMin: Double = 0.5,
      track: DataFrame => Unit = _ => (), sigLen: Int = 0): DataFrame = {
    track(signatures
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // a non-divisor bands silently misaligns the slice offsets (fractional
    // starts truncate) and leaves tail positions uncovered by any band —
    // the recall guarantee degrades with no error. Callers that know the
    // signature length statically (every in-repo chain does) pass sigLen
    // and the check is free; otherwise a 1-row probe job runs (guide §1.2:
    // one less pass per chain).
    if (sigLen > 0) require(sigLen % bands == 0,
      s"bands=$bands must divide the signature length $sigLen")
    else signatures.select(size(col("signature"))).head(1).foreach { r =>
      require(r.getInt(0) % bands == 0,
        s"bands=$bands must divide the signature length ${r.getInt(0)}")
    }
    val banded = signatures.select(col(idCol).as("a_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_",
          slice(col("signature"), b * (size(col("signature")) / bands) + 1,
            size(col("signature")) / bands))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val r = banded.select(col("a_id").as("b_id"), col("band"), col("band_hash"))
    val pairs = banded.join(r, Seq("band", "band_hash"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    track(pairs)
    val matches = aggregate(zip_with(col("sig_a"), col("sig_b"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
    pairs
      .join(signatures.select(col(idCol).as("a_id"), col("signature").as("sig_a")),
        Seq("a_id"))
      .join(signatures.select(col(idCol).as("b_id"), col("signature").as("sig_b")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (matches.cast("double") / size(col("sig_a"))).as("est_jaccard"))
      .where(col("est_jaccard") >= estJaccardMin)
  }

  /** SimHash (64-bit) per document: per-bit majority of token hashes.
    * Per-row vote arrays sum elementwise in ONE aggregate
    * ([[graft.agg.ElementAgg]]); a final projection packs bit b, set where
    * its vote sum is positive, as `1L << b` (bit 63 is the sign bit).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWith(df, idCol, textCol, portable = false, bits = 64)

  /** Cross-engine-reproducible SimHash: token hash = first 15 hex chars of
    * md5 (a 60-bit value both Spark and DuckDB compute identically), so an
    * external SQL oracle can recompute signatures — and therefore hamming
    * distances — bit-for-bit. Bits 60–63 are structurally zero for every
    * document (identical on both engines, no effect on hamming); the 4-bit
    * narrowing is the price of md5-anchored reproducibility.
    */
  def simhashReproducible(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWith(df, idCol, textCol, portable = true, bits = 60)

  /** Per-bit vote sums run MAP-SIDE in the [[graft.text.TextKernels]]
    * simhash kernel (one pass per row: normalize → tokenize → hash →
    * vote), so the exchange carries one `bits`-long vote row per doc row
    * instead of one row per TOKEN (guide §2.3 "aggregate before you
    * shuffle"). The groupBy sums votes elementwise in one aggregate so
    * duplicate idCol rows keep the exploded form's union semantics;
    * null-text rows are filtered exactly like explode-of-null dropped
    * them. The pack folds integer shifts over the bit positions: a double
    * power of two would overflow its long cast at bit 63 under ANSI.
    */
  private def simhashWith(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean, bits: Int): DataFrame = {
    val votes = graft.text.TextKernels.simhashVotesCol(col(textCol),
      bits, portable).cast("array<bigint>")
    val agged = df.select(col(idCol), votes.as("__votes"))
      .where(col("__votes").isNotNull)
      .groupBy(col(idCol))
      .agg(graft.agg.ElementAgg.sum(col("__votes"), bits).as("__sums"))
    val packed = aggregate(sequence(lit(0), lit(bits - 1)), lit(0L),
      (acc, b) => acc.bitwiseOR(
        when(element_at(col("__sums"), b + 1) > 0,
          call_function("shiftleft", lit(1L), b))
          .otherwise(lit(0L))))
    // aggregate() types its accumulator nullable; the pack is never null,
    // so the coalesce only keeps the signature column non-nullable
    agged.select(col(idCol), coalesce(packed, lit(0L)).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share one of `maxHamming + 1`
    * bit chunks of the 64-bit signature — by pigeonhole, a pair within
    * hamming distance `maxHamming` has at least one chunk with NO
    * differing bit, so chunk-equality banding is exhaustive at the
    * configured radius (no silently dropped pairs). Candidates are
    * verified with bit_count(xor) <= maxHamming.
    *
    * Chunk widths are ⌈64/c⌉ or ⌊64/c⌋ bits; narrower chunks (larger
    * maxHamming) mean coarser buckets and more candidates — the standard
    * recall/cost dial. maxHamming must stay < 64 bits / 2-bit-wide chunks:
    * beyond ~31 the chunks degenerate to single bits and banding is
    * pointless; callers that far out want a different operator.
    */
  def simhashNearDups(sims: DataFrame, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming=$maxHamming outside the banding-sound range [0, 31]")
    val nChunks = maxHamming + 1
    // distribute 64 bits over nChunks chunks: first (64 % nChunks) chunks
    // get an extra bit
    val widths = Array.tabulate(nChunks)(c => 64 / nChunks +
      (if (c < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val chunkExprs = (0 until nChunks).map { c =>
      val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1L
      shiftright(col("simhash"), offsets(c)).bitwiseAND(lit(mask))
    }
    val chunked = sims.select(col(idCol).as("a_id"), col("simhash").as("sim_a"),
      posexplode(array(chunkExprs: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val r = chunked.select(col("a_id").as("b_id"), col("sim_a").as("sim_b"),
      col("chunk"), col("chunk_val"))
    chunked.join(r, Seq("chunk", "chunk_val"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Exact-Jaccard verification of a candidate pair set (the second half
    * of the production minhash→LSH→verify pipeline): recompute the TRUE
    * shingle Jaccard for each candidate pair and keep pairs >= threshold.
    *
    * Doc identity is SET-valued: duplicate `idCol` rows collapse into one
    * doc whose shingle set is the UNION over its rows — the same collapse
    * [[minhashSignatures]] applies (min over the union), so estimate and
    * verification agree on what a "doc" is. Without the distinct, a doc
    * duplicated m times would carry m× sizes and intersections and its
    * verified Jaccard would inflate above the true set value.
    *
    * Scale shape: shingles are materialized only for docs that appear in
    * at least one candidate pair (semi-join pushdown), the intersection
    * count is an id-keyed equi-join on (doc, shingle) — never all-pairs —
    * and candidate sets are tiny relative to the corpus by construction.
    *
    * `track` observes every DataFrame this call persists (callers that
    * must honor an unpersist contract — Validator's near-dup pass —
    * collect and release them once their counts are materialized).
    */
  def verifyJaccard(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, threshold: Double = 0.7,
      track: DataFrame => Unit = _ => ()): DataFrame = {
    // `pairs` feeds 3 consumers (id census + final base twice) and the
    // candidate-doc shingle SETS feed 2 (both pair endpoints) — persist
    // both so the upstream plans run once; both are bounded by the
    // candidate set, not the corpus.
    //
    // Shape (optimization guide §2.4 — remove shuffles outright): the
    // shingle set of each candidate doc stays an ARRAY; the exact
    // intersection is one `array_intersect` per pair. The previous form
    // exploded (id, shingle) rows through a distinct + a sizes groupBy +
    // an intersection groupBy + four rejoins — 8 exchanges where this
    // needs 2 joins and one keyed agg (measured at sf0.1: verify leg
    // 4.7 s → ~1 s; identical jaccard arithmetic on identical sets).
    track(pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ids = pairs.select(col("a_id").as("__vid"))
      .union(pairs.select(col("b_id"))).distinct()
    // per-doc DISTINCT shingle set; duplicate idCol rows collapse into
    // one doc whose set is the UNION over its rows (same semantics the
    // exploded distinct had — see the scaladoc contract above)
    val shs = df.join(ids, col(idCol) === col("__vid"))
      .select(col(idCol),
        array_distinct(TextAnalysis.shingleHashes(col(textCol), shingleK))
          .as("__shs"))
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(col("__shs")))).as("__shs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    track(shs)
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    pairs.select("a_id", "b_id")
      .join(shs.select(col(idCol).as("a_id"), col("__shs").as("__sa")), Seq("a_id"))
      .join(shs.select(col(idCol).as("b_id"), col("__shs").as("__sb")), Seq("b_id"))
      .withColumn("jaccard",
        inter.cast("double") /
          (size(col("__sa")) + size(col("__sb")) - inter))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Exact n-gram Jaccard over candidate generation by inverted index:
    * docs sharing ≥1 shingle are candidates; Jaccard from intersection
    * counts vs distinct-shingle sizes. Exact over the stop-shingle-
    * filtered universe: shingles hotter than `maxDocsPerShingle` are
    * dropped from BOTH the intersection and the size terms (standard
    * stop-word practice) — sizing on the unfiltered sets while
    * intersecting on the filtered ones would bias jaccard DOWNWARD and
    * silently drop truly-above-threshold pairs.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.7,
      maxDocsPerShingle: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol),
      explode(array_distinct(TextAnalysis.shingleHashes(col(textCol), shingleK)))
        .as("sh"))
    val filtered = sh.withColumn("docs_with",
        count(lit(1)).over(Window.partitionBy(col("sh"))))
      .where(col("docs_with") <= maxDocsPerShingle)
    val sizes = filtered.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val l = filtered.select(col(idCol).as("a_id"), col("sh"))
    val r = filtered.select(col(idCol).as("b_id"), col("sh"))
    l.join(r, Seq("sh")).where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }
}
