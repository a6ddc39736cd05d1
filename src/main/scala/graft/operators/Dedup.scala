package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard verification.
  *
  * The reference's staging import is itself an exact-dedup pipeline
  * (duplicate staging rows → distinct import, README "Import from staging");
  * these operators generalize that to content-level near-duplicate detection.
  *
  * Scale design: nothing here ever does an all-pairs comparison. Candidates
  * come from hash buckets (LSH bands / SimHash chunks / shared source), the
  * expensive Jaccard verification runs only inside buckets, and every
  * building block is a native Catalyst function (codegen'd, no UDFs).
  * Hot-bucket skew at 100 TB: band keys that collect millions of docs (e.g.
  * boilerplate) should be salted or capped; `bucketCap` drops degenerate
  * buckets explicitly rather than letting one reducer own them.
  */
object Dedup {

  /** Exact dedup: group by content, keep the smallest id (deterministic
    * canonical representative). One shuffle on a content hash. At 100 TB,
    * group by xxhash64(text) instead of the raw text to keep shuffle rows
    * narrow — here the text IS the key so the oracle can express it.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy("text")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** The 100 TB form of [[exact]]: group on xxhash64(text) so the shuffle
    * carries an 8-byte key instead of the document, then confirm true
    * equality inside each hash group (collisions are 2^-64 but the check is
    * one pass over already-colocated rows — correctness is free).
    * Same output contract as [[exact]].
    */
  def exactByHash(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"), xxhash64(col("text")).as("h"))
      .groupBy("h", "text") // text comparison only within a hash bucket
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** Word k-shingles (distinct), the unit set for Jaccard similarity.
    * Docs shorter than k words yield their whole text as the single shingle
    * — branched explicitly, because an out-of-range element_at is an ERROR
    * under ANSI mode (Spark 4 default), not a null.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val words = split(text, " ")
    val grams = transform(
      sequence(lit(0), size(words) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(words, i + j + 1)): _*)
    )
    when(size(words) < k, array(concat_ws(" ", words)))
      .otherwise(array_distinct(grams))
  }

  /** MinHash signature — native one-pass Catalyst expression
    * ([[graft.functions.TextHashes.minhashSig]]): sig_j = min over distinct
    * shingles of (h1 + j·h2). A pure-HOF formulation (numHashes × array_min ×
    * transform) is expressible but evaluates a tree too large for codegen —
    * measured minutes vs seconds at sf0.1.
    */
  def minhashSignature(text: Column, numHashes: Int): Column =
    graft.functions.TextHashes.minhashSig(text, 3, numHashes)

  /** Hot-bucket cap valve shared by every banded candidate generator: a
    * bucket with more than `cap` members is boilerplate-like (every doc
    * carrying the same header lands in one band) and would quadratically
    * explode one reducer in the self-join — drop the WHOLE bucket. Partial
    * count + broadcast anti-join — NOT a count-over-window, which would
    * globally sort every band row just to tag the handful of hot keys.
    * Cap-sound by construction: pairs can only VANISH (and only pairs whose
    * every shared bucket is hot), never appear — DedupSpec pins both
    * directions. At 100 TB this is the valve that keeps a duplicated
    * boilerplate corpus from densifying any single band partition.
    */
  private[operators] def capHotBuckets(rows: DataFrame, keyCol: String,
                                       cap: Int): DataFrame = {
    val hot = rows.groupBy(keyCol)
      .agg(count(lit(1)).as("n")).where(col("n") > cap).select(keyCol)
    rows.join(broadcast(hot), Seq(keyCol), "left_anti")
  }

  /** MinHash + LSH banding near-dedup.
    *
    * shingle → numHashes minhashes → bands of `rowsPerBand` → explode to
    * (band_key, doc_id) → self-join per band (a.doc < b.doc) → distinct
    * candidate pairs → verify exact Jaccard on the shingle sets.
    *
    * Shuffles: one on band_key (bounded fan-out: docs × numBands rows), one
    * to re-attach shingle sets for verification, one distinct. Verification
    * cost is |candidates|, never |docs|².
    */
  def minhashLsh(
      documents: DataFrame,
      numHashes: Int = 32,
      rowsPerBand: Int = 2,
      jaccardThreshold: Double = 0.5,
      bucketCap: Int = 10000
  ): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val withSig = documents
      .select(
        col("doc_id"),
        graft.functions.TextHashes.shingleHashes(col("text")).as("sh"),
        minhashSignature(col("text"), numHashes).as("sig"))

    val bands = withSig.select(col("doc_id"),
      explode(bandKeysArray(col("sig"), numBands, rowsPerBand)).as("band_key"))
    val capped = capHotBuckets(bands, "band_key", bucketCap)

    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val sh = withSig.select(col("doc_id"), col("sh"))
    pairs
      .join(sh.toDF("doc_a", "sh_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("jaccard", graft.functions.SetOps.jaccardSorted(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= jaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash: native codegen'd expression (one pass per row). */
  def simhash64(text: Column): Column = graft.functions.TextHashes.simhash64(text)

  /** Reference HOF formulation of [[simhash64]] — bit-for-bit identical
    * semantics, kept as the cross-check oracle for the native expression
    * (DedupSpec asserts equality). Do not use in hot paths: the ~64×|words|
    * expression tree falls out of codegen and evaluates interpreted.
    */
  def simhash64Reference(text: Column): Column = {
    val words = split(text, " ")
    // per-word ±1 bit vector from one xxhash64 (static shift amounts keep
    // this inside the native expression API)
    def wordBits(w: Column): Column = array((0 until 64).map { b =>
      when(shiftright(xxhash64(w), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)
    }: _*)
    val zero = array((0 until 64).map(_ => lit(0L)): _*)
    val bitsums = aggregate(words, zero, (acc, w) => zip_with(acc, wordBits(w), (x, y) => x + y))
    // pack MSB-first via shiftleft (bitwise — wraps on the sign bit instead
    // of tripping ANSI overflow; the value is only ever used with XOR /
    // bit_count)
    aggregate(sequence(lit(63), lit(0), lit(-1)), lit(0L),
      (acc, b) => shiftleft(acc, 1) + when(get(bitsums, b) > 0, 1L).otherwise(0L))
  }

  /** SimHash near-dedup: bucket by the 4 16-bit chunks of the signature
    * (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal), verify with
    * bit_count(xor) ≤ maxHamming. Same bounded-bucket join shape as LSH.
    */
  def simhashDedup(documents: DataFrame, maxHamming: Int = 3,
                   bucketCap: Int = 10000): DataFrame = {
    val sigs = documents.select(col("doc_id"), simhash64(col("text")).as("sig"))
    val rawChunks = sigs.select(
      col("doc_id"), col("sig"),
      explode(array((0 until 4).map { c =>
        concat_ws(":", lit(c), shiftright(col("sig"), c * 16).bitwiseAND(lit(0xffffL)))
      }: _*)).as("chunk_key")
    )
    val chunks = capHotBuckets(rawChunks, "chunk_key", bucketCap)
    chunks.as("a")
      .join(chunks.as("b"), col("a.chunk_key") === col("b.chunk_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  // --- CROSS-ENGINE exact twins of the minhash/simhash detectors ---------
  // Same algorithms, re-keyed on the md5-56 gram/word convention
  // (TextMetrics.gramKeys / HashConv.md5Long56) so a SQL engine can
  // re-derive every signature bit-for-bit — the noveltyScore/
  // containmentPairs precedent, upgrading both driver keys from rows-only
  // to hash-match. The xxhash64 natives above remain the hot/scale path
  // (one fused kernel per row vs md5-per-gram); DedupSpec pins that both
  // spellings recover the same planted near-dup pairs.

  /** Deterministic affine-mix coefficients for [[minhashLshExact]] —
    * splitmix64-derived, bounded to 31 bits so g·a + b stays well inside
    * decimal(38,0)/HUGEINT on both engines. Public so the oracle-SQL
    * generator embeds the SAME constants.
    */
  def minhashExactCoeffs(numHashes: Int): Seq[(Long, Long)] = {
    def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    (0 until numHashes).map { j =>
      val a = (mix(2L * j) & 0x7fffffffL) | 1L // odd, 1..2^31-1
      val b = mix(2L * j + 1) & 0x7fffffffL
      (a, b)
    }
  }

  /** Modulus for the exact minhash mix: 2^61 − 1 (Mersenne; any prime
    * comfortably above the 56-bit gram keys works — both engines compute
    * (g·a + b) % P exactly in 128-bit/decimal(38,0) intermediates).
    */
  val MinhashExactP: Long = (1L << 61) - 1

  /** The decimal(38,0) affine-mix spelling — the exact arithmetic the
    * DuckDB oracle runs in HUGEINT. Kept as the parity reference for the
    * native long kernel ([[graft.functions.HashConv.affineModP]]) that
    * the hot path uses; DedupSpec pins column-level equality on real
    * gram keys.
    */
  def minhashExactAffineRef(g: Column, a: Long, b: Long): Column =
    (g.cast("decimal(38,0)") * lit(a) + lit(b)).mod(lit(MinhashExactP)).cast("long")

  /** MinHash + LSH banding, EXACT cross-engine edition: distinct md5-56
    * 3-gram keys per doc ([[TextMetrics.gramKeys]]), signature row j =
    * min over grams of (g·a_j + b_j) mod P with [[minhashExactCoeffs]]
    * literals, band keys over `rowsPerBand` consecutive rows, candidate
    * pairs per band, exact-Jaccard verification on the gram SETS (count
    * form: |∩| / (n_a + n_b − |∩|), round 12).
    *
    * Same shuffle discipline as [[minhashLsh]]: signatures are ONE
    * partial agg over (doc_id, gram) longs; bands fan out docs×numBands
    * 16-byte rows through the same [[capHotBuckets]] valve (r11 verdict:
    * the exact edition used to lack it — a boilerplate-heavy corpus
    * densified one reducer quadratically with nothing throwing);
    * verification joins gram keys back BY ID for candidate
    * pairs only — text never shuffles, nothing is all-pairs. Docs under 3
    * tokens carry no grams and never pair (vs [[minhashLsh]]'s whole-doc
    * fallback shingle — documented divergence, irrelevant above tweet
    * length).
    */
  /** LAZY candidate-pair generator of [[minhashLshExact]] — signatures,
    * band explode, the hot-bucket cap valve and the per-band self-join.
    * r15 (guide §2.4, the r14 "54 Exchanges" finding): the band frame
    * feeds the cap valve's hot aggregation, its anti-join AND both sides
    * of the self-join — without a barrier the whole signature groupBy
    * (numHashes affine-min aggregates over the gram frame) re-ran 4×, so
    * the band frame is pinned here (docs×numBands rows, bounded).
    * Public to `graft` so PlanShapeSpec can assert the valve's
    * broadcast-anti shape on the lazy plan.
    */
  private[graft] def minhashExactCandidates(grams: DataFrame,
      coeffs: Seq[(Long, Long)], rowsPerBand: Int, bucketCap: Int): DataFrame = {
    val numBands = coeffs.size / rowsPerBand
    val sigCols = coeffs.zipWithIndex.map { case ((a, b), j) =>
      min(graft.functions.HashConv.affineModP(col("g"), a, b)).as(s"s$j")
    }
    val sigs = grams.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    val bandKey = (bnd: Int) => concat_ws(":",
      lit(bnd) +: (0 until rowsPerBand).map(r => col(s"s${bnd * rowsPerBand + r}")): _*)
    val bands = capHotBuckets(sigs.select(col("doc_id"),
      explode(array((0 until numBands).map(bandKey): _*)).as("band_key"))
        .localCheckpoint(true),
      "band_key", bucketCap)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def minhashLshExact(documents: DataFrame, numHashes: Int = 16,
                      rowsPerBand: Int = 2,
                      jaccardThreshold: Double = 0.5,
                      bucketCap: Int = 10000): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val coeffs = minhashExactCoeffs(numHashes)
    // the affine mix inside the candidate generator runs on the NATIVE
    // long kernel (multiplyHigh + Mersenne folds — r12): bit-identical to
    // the decimal(38,0) spelling the ORACLE still computes
    // ([[minhashExactAffineRef]]; DedupSpec pins kernel parity and the
    // oracle hash-match is unchanged)
    val grams = TextMetrics.gramKeys(documents, 3, Seq("doc_id"))
      .localCheckpoint(true) // sigs + counts + two verification legs
    // candidate pairs feed the intersection count and the final join
    // chain — two consumers of the self-join+distinct subtree; bounded
    // by the cap valve, so pinning is cheap (and PlanShapeSpec asserts
    // the valve's broadcast-anti shape on the LAZY generator below,
    // since an eager pin hides it from the key's final plan).
    val pairs = minhashExactCandidates(grams, coeffs, rowsPerBand, bucketCap)
      .localCheckpoint(true)
    // per-doc gram counts join back twice (n_a, n_b) — doc-grain, pin it
    val counts = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val common = pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    pairs
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .join(common, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))), 12)
          .as("jaccard"))
      .where(col("jaccard") >= jaccardThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dedup, EXACT cross-engine edition: 56-bit signatures
    * from md5-56 word hashes (duplicates keep their weight — the standard
    * frequency-weighted simhash), pigeonhole-bucketed by the 4 14-bit
    * chunks (hamming ≤ 3 ⟹ one chunk equal), verified on
    * bit_count(xor). Signature construction is one fused codegen'd
    * kernel per doc (r13 — no words explode, no 56-column agg shuffle);
    * same bounded-bucket join as [[simhashDedup]], behind the same
    * [[capHotBuckets]] hot-chunk valve.
    */
  def simhashDedupExact(documents: DataFrame, maxHamming: Int = 3,
                        bucketCap: Int = 10000): DataFrame = {
    // round 13: the signature is ONE fused map-only kernel per doc
    // ([[graft.functions.Md5Text.simhash56]] — md5-56 per word, 56 ±1
    // sums, sign pack) instead of a words explode + a 56-column groupBy
    // SHUFFLE; Md5TextSpec pins bit-parity with the composed spelling.
    // -1 marks a wordless doc (unreachable as a real 56-bit sig) — the
    // old explode dropped those docs from the frame, so filter them here
    val sigs = documents
      .select(col("doc_id"), graft.functions.Md5Text.simhash56(col("text")).as("sig"))
      .where(col("sig") >= 0L)
    val chunks = capHotBuckets(sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map { c =>
        concat_ws(":", lit(c),
          shiftright(col("sig"), c * 14).bitwiseAND(lit(0x3fffL)))
      }: _*)).as("chunk_key")), "chunk_key", bucketCap)
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk_key") === col("b.chunk_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram Jaccard pair scoring within a blocking key (here: source).
    * Default threshold 0.02: low enough that the recorded run on driver
    * testdata emits a meaningful pair set (~21 pairs at sf0.01, vs 1 at
    * 0.1 — the docs are mostly unrelated), high enough to stay selective.
    * Runs on the ppjoin-style prefix INDEX ([[ngramJaccardPairsIndexed]]):
    * candidates are pairs sharing a prefix token, not all block pairs —
    * measured ~10× fewer verifications at identical output (the
    * enumerate-all-block-pairs twin [[ngramJaccardPairsBalanced]] is the
    * parity oracle, DedupSpec pins equality).
    */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double = 0.02): DataFrame =
    ngramJaccardPairsIndexed(documents, threshold)

  /** ppjoin-style prefix-indexed pair generation + exact verification.
    *
    * Sound prefix filter: under any shared total order (here ascending
    * hash), J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ ⟹ A and B share a
    * token within their first (|X| − ⌈t·|X|⌉ + 1) elements (own-size α is
    * a superset of the pair-wise prefix, so indexing it is sound). So:
    * explode each doc's PREFIX tokens, self-join the inverted index on
    * (source, token), dedup pairs, verify exact Jaccard — candidates are
    * pairs that provably CAN clear the threshold, instead of every pair in
    * the block (B²/2 per block; measured ~10× reduction at sf0.01, see
    * BENCH_NOTES). The size filter (min ≥ t·max) prunes again before the
    * merge scan; both filters are sound, output is identical to the
    * all-pairs formulation.
    *
    * Scale: the index shuffles (source, token, doc_id) longs — ~prefix
    * length rows per doc; token groups bound the join fan-out the way LSH
    * buckets do. `orderByFrequency` enables classic ppjoin token ordering:
    * prefixes are taken under ascending DOCUMENT FREQUENCY (rarest tokens
    * first) instead of hash order — both are sound (any shared total order
    * works), but rarest-first keeps natural-language hot shingles
    * (boilerplate) OUT of the prefixes, so hot-token join groups shrink
    * and candidate counts drop further (measured in BENCH_NOTES); it costs
    * one extra aggregation + per-doc window over the token index.
    */
  /** (doc_id, source, tok) inverted index over each doc's ppjoin prefix.
    * Hash order slices the already-sorted array; frequency order ranks
    * each doc's tokens by (doc frequency asc, token asc) per source —
    * the shared total order soundness requires — and keeps the first
    * (n − ⌈t·n⌉ + 1).
    */
  private def prefixIndex(d: DataFrame, threshold: Double,
                          orderByFrequency: Boolean): DataFrame =
    if (!orderByFrequency) {
      val prefixLen = greatest(
        size(col("sh")) - ceil(lit(threshold) * size(col("sh"))).cast("int") + 1, lit(1))
      d.select(col("doc_id"), col("source"),
        explode(slice(col("sh"), lit(1), prefixLen)).as("tok"))
    } else {
      val toks = d.select(col("doc_id"), col("source"), size(col("sh")).as("n"),
        explode(col("sh")).as("tok"))
      val tokDf = toks.groupBy("source", "tok").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "doc_id").orderBy(col("df"), col("tok"))
      toks.join(tokDf, Seq("source", "tok"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <=
          greatest(col("n") - ceil(lit(threshold) * col("n")).cast("int") + 1, lit(1)))
        .select(col("doc_id"), col("source"), col("tok"))
    }

  /** Self-join of the inverted index on (source, token) → distinct doc
    * pairs. `saltBuckets` > 1 applies the triangle-bucket decomposition
    * WITHIN each token group (same machinery as
    * [[ngramJaccardPairsBalanced]], same output): a hot token's pair
    * enumeration spreads over B(B+1)/2 join groups instead of landing on
    * one reducer — the skew valve for boilerplate shingles that survive
    * into prefixes.
    */
  private def indexCandidates(index: DataFrame, saltBuckets: Int = 1): DataFrame =
    if (saltBuckets <= 1)
      index.as("a")
        .join(index.as("b"),
          col("a.source") === col("b.source") && col("a.tok") === col("b.tok") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    else {
      val d = index.withColumn("bkt",
        pmod(xxhash64(col("doc_id")), lit(saltBuckets)).cast("int"))
      val aSide = d.withColumn("j", explode(sequence(col("bkt"), lit(saltBuckets - 1))))
        .select(col("doc_id").as("doc_a"), col("source"), col("tok"), col("bkt").as("i"), col("j"))
      val bSide = d.withColumn("i", explode(sequence(lit(0), col("bkt"))))
        .select(col("doc_id").as("doc_b"), col("source"), col("tok"), col("i"), col("bkt").as("j"))
      aSide.join(bSide, Seq("source", "tok", "i", "j"))
        .where(col("i") < col("j") || col("doc_a") < col("doc_b"))
        .select(
          least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct()
    }

  /** `blockBySource = false` drops the source blocking key (one global
    * dedup scope — the cross-corpus near-dup setting); the inverted index
    * and its pruning work identically, token groups just span sources.
    */
  def ngramJaccardPairsIndexed(documents: DataFrame, threshold: Double = 0.02,
                               orderByFrequency: Boolean = false,
                               saltBuckets: Int = 1,
                               blockBySource: Boolean = true): DataFrame = {
    val d = documents.select(
      col("doc_id"),
      (if (blockBySource) col("source") else lit("_global")).as("source"),
      graft.functions.TextHashes.shingleHashes(col("text")).as("sh"))
      .localCheckpoint(true) // shingle kernel feeds the index AND both
                             // verify sides — one pass, not three (the
                             // [[containmentPairs]] gram-frame precedent)
    val candidates =
      indexCandidates(prefixIndex(d, threshold, orderByFrequency), saltBuckets)
    val sh = d.select(col("doc_id"), col("sh"))
    val sa = size(col("sh_a")).cast("double")
    val sb = size(col("sh_b")).cast("double")
    candidates
      .join(sh.toDF("doc_a", "sh_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b"), "doc_b")
      .where(least(sa, sb) >= lit(threshold) * greatest(sa, sb))
      .select(
        col("doc_a"), col("doc_b"),
        graft.functions.SetOps.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-corpus near-duplicate detection — the DECONTAMINATION pass a
    * training pipeline runs against its eval/benchmark sets: flag every
    * train doc whose word-shingle Jaccard with ANY eval doc clears the
    * threshold, with the best-matching eval doc as evidence.
    *
    * Candidates come from the same SOUND ppjoin prefix machinery as
    * [[ngramJaccardPairsIndexed]] — each side indexes its own prefix
    * tokens, and the index join only ever CROSSES sides — so candidate
    * cost is bounded by shared prefix tokens, never |train|·|eval|, and
    * no at-threshold pair can be missed. The index shuffles (token,
    * doc_id) longs; shingle arrays cross the wire once per flagged
    * candidate for the exact verify scan. Output: one row per
    * contaminated train doc, `max_by` over its matches (partial-agged).
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    threshold: Double = 0.5): DataFrame = {
    def side(df: DataFrame) = df.select(
      col("doc_id"), lit("_x").as("source"),
      graft.functions.TextHashes.shingleHashes(col("text")).as("sh"))
      .localCheckpoint(true) // shingle kernel feeds each side's prefix
                             // index AND its verify join — one pass each
    val (dTrain, dEval) = (side(train), side(evalSet))
    val candidates = prefixIndex(dTrain, threshold, orderByFrequency = false).as("a")
      .join(prefixIndex(dEval, threshold, orderByFrequency = false).as("b"),
        col("a.tok") === col("b.tok"))
      .select(col("a.doc_id").as("train_doc_id"), col("b.doc_id").as("eval_doc_id"))
      .distinct()
    val sa = size(col("sh_a")).cast("double")
    val sb = size(col("sh_b")).cast("double")
    candidates
      .join(dTrain.select(col("doc_id").as("train_doc_id"), col("sh").as("sh_a")), "train_doc_id")
      .join(dEval.select(col("doc_id").as("eval_doc_id"), col("sh").as("sh_b")), "eval_doc_id")
      .where(least(sa, sb) >= lit(threshold) * greatest(sa, sb))
      .select(col("train_doc_id"), col("eval_doc_id"),
        graft.functions.SetOps.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .groupBy("train_doc_id")
      .agg(
        max_by(col("eval_doc_id"), struct(col("jaccard"), -col("eval_doc_id"))).as("matched_eval_doc"),
        round(max(col("jaccard")), 12).as("jaccard"),
        count(lit(1)).as("n_matches"))
      .orderBy("train_doc_id")
  }

  /** Connected components over an undirected duplicate-pair list — the
    * CLUSTER step every near-dedup pipeline ends with (pairs → groups →
    * keep one doc per group). Output: (doc_id, cluster_id) for every doc
    * appearing in ≥1 pair, cluster_id = the smallest doc_id reachable
    * from it (canonical, deterministic).
    *
    * Iterative hash-to-min label propagation: each vertex takes the
    * minimum label in its closed neighborhood until fixpoint. Iterations
    * are bounded by the largest cluster DIAMETER — near-dup graphs are
    * shallow (boilerplate stars, short mutation chains), so a handful of
    * rounds closes them; each round is two hash-partitioned shuffles
    * (neighbor-min agg + label join) over (id, label) longs — 16 B/row
    * regardless of corpus width — and messages flow only out of the ids
    * whose label improved last round ([[Fixpoint.minDelta]]). A cluster
    * deeper than `maxIters` rounds fails loud rather than returning a
    * partial clustering. min() is order-independent, so results don't
    * depend on partitioning. (GraphX does the same propagation; the
    * DataFrame form keeps Catalyst/AQE in charge and the shuffle payload
    * minimal.)
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 25,
                  checkpointDir: Option[String] = None,
                  checkpointEvery: Int = 5): DataFrame = {
    val cutRound = new java.util.concurrent.atomic.AtomicInteger(0)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    val labels = Fixpoint.minDelta(
      edges.select(col("src").as("id")).distinct().withColumn("label", col("id")),
      delta => edges
        .join(delta.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("label").as("nlabel")),
      "left",
      least(col("label"), coalesce(col("nlabel"), col("label"))),
      coalesce(col("nlabel") < col("label"), lit(false)),
      maxIters, "dupClusters",
      Checkpoints.cut(_, cutRound.incrementAndGet(), checkpointDir, checkpointEvery))
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Candidate-pair count of the prefix index under each token order —
    * the measurement hook behind BENCH_NOTES' ppjoin numbers (not a query
    * surface).
    */
  def prefixIndexCandidateCount(documents: DataFrame, threshold: Double,
                                orderByFrequency: Boolean): Long = {
    val d = documents.select(
      col("doc_id"), col("source"),
      graft.functions.TextHashes.shingleHashes(col("text")).as("sh"))
    indexCandidates(prefixIndex(d, threshold, orderByFrequency)).count()
  }

  /** Within-block all-pairs scoring with triangle-bucket decomposition.
    *
    * Joining on the blocking key alone skews hard when blocks ≫ partitions
    * (here: 20 sources over 32 cores; at 100 TB, one hot block = one stuck
    * reducer). Decompose each block into B sub-buckets by doc-id hash and
    * enumerate bucket pairs (i ≤ j): side A carries bucket i, side B bucket
    * j, joined on (block, i, j) — B(B+1)/2 × blocks join groups spread
    * evenly, identical output to the naive join (SetOpsSpec pins equality).
    * Same machinery salts LSH band buckets when a band key goes hot.
    */
  def ngramJaccardPairsBalanced(documents: DataFrame, threshold: Double = 0.1,
                                buckets: Int = 8): DataFrame = {
    val d = documents.select(
      col("doc_id"), col("source"),
      graft.functions.TextHashes.shingleHashes(col("text")).as("sh"),
      pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int").as("bkt"))
    // A emits (bkt, j) for j in bkt..B-1; B emits (i, bkt) for i in 0..bkt
    val aSide = d.withColumn("j", explode(sequence(col("bkt"), lit(buckets - 1))))
      .select(col("doc_id").as("doc_a"), col("source"), col("sh").as("sh_a"),
        col("bkt").as("i"), col("j"))
    val bSide = d.withColumn("i", explode(sequence(lit(0), col("bkt"))))
      .select(col("doc_id").as("doc_b"), col("source"), col("sh").as("sh_b"),
        col("i"), col("bkt").as("j"))
    aSide.join(bSide, Seq("source", "i", "j"))
      .where(col("i") < col("j") || col("doc_a") < col("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        graft.functions.SetOps.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The ppjoin filters as a standalone pair predicate — the SOUNDNESS
    * contract behind [[ngramJaccardPairsIndexed]], pinned by DedupSpec
    * (never false for a pair at or above the threshold):
    *
    *  - size filter: J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| ⟹ min ≥ t·max. O(1).
    *  - prefix filter: J ≥ t ⟹ |A∩B| ≥ α where α = ⌈t·max(|A|,|B|)⌉;
    *    under any shared total order (here: ascending hash), sets with
    *    overlap ≥ α must share an element within their first
    *    (|X| − α + 1) elements. `arrays_overlap` over the two prefixes.
    *
    * As a post-join filter the slice copies make it a net loss (measured:
    * 6.9s vs 1s+ at sf0.1) — prune at candidate GENERATION (the prefix
    * index) instead; this form exists for the soundness spec.
    */
  def ppjoinSurvives(shA: Column, shB: Column, threshold: Double): Column = {
    val sa = size(shA).cast("double")
    val sb = size(shB).cast("double")
    val alpha = ceil(lit(threshold) * greatest(sa, sb)).cast("int")
    val sizeOk = least(sa, sb) >= lit(threshold) * greatest(sa, sb)
    val prefixOk = arrays_overlap(
      slice(shA, lit(1), greatest(sa.cast("int") - alpha + 1, lit(0))),
      slice(shB, lit(1), greatest(sb.cast("int") - alpha + 1, lit(0))))
    sizeOk && prefixOk
  }

  /** The eval-set Bloom artifact for [[bloomGate]]: one pass over the eval
    * corpus, any partitioning (the aggregate merges by OR, so map-side
    * partials combine), returning numBits/8 bytes — a bounded driver
    * collect sized to the EVAL set's membership question, never the
    * corpus. Keys are xxhash64(text): the EXACT-match gate; the n-gram
    * [[decontaminate]] stays the near-match sweep.
    */
  def buildContaminationBloom(evalDocs: DataFrame,
                              numBits: Int = 1 << 20,
                              numHashes: Int = graft.functions.BloomOps.DefaultNumHashes): Array[Byte] =
    evalDocs.select(graft.functions.BloomOps.bloomAgg(
        xxhash64(col("text")), numBits, numHashes).as("b"))
      .head().getAs[Array[Byte]](0)

  /** Map-only contamination gate: flags rows whose exact text hash MIGHT
    * be in the eval set (no false negatives; false positives at the
    * filter's FPR route to a recheck, never to a wrong answer). The
    * artifact rides the plan as one binary literal and the probe is k
    * bit-reads inside codegen — streaming-safe (stateless), the ingest
    * twin of batch decontamination.
    */
  def bloomGate(docs: DataFrame, bloom: Array[Byte],
                numHashes: Int = graft.functions.BloomOps.DefaultNumHashes): DataFrame =
    docs.withColumn("maybe_contaminated",
      graft.functions.BloomOps.mightContain(lit(bloom), xxhash64(col("text")), numHashes))

  /** Paragraph-level exact dedup (the C4 boilerplate stage): every
    * paragraph that occurs more than once ACROSS THE WHOLE CORPUS survives
    * only at its first occurrence — smallest (doc_id, position) — and each
    * document is reassembled from its surviving paragraphs in original
    * order. Documents made entirely of previously-seen paragraphs come back
    * with empty text (kept as rows: the drop decision belongs to a filter,
    * not the dedup).
    *
    * Scale shape — two shuffles, no self-join, no window:
    *  1. explode → groupBy(paragraph).agg(min(struct(doc_id, idx))): the
    *     surviving occurrence IS the aggregate row, so there is no
    *     join-back, and map-side partial aggregation collapses hot
    *     boilerplate paragraphs (the million-fold "subscribe" block
    *     arrives at the reducer once per map partition, not once per copy).
    *     A window over partition-by-paragraph would put every copy of the
    *     hot key in one partition; the groupBy form cannot skew.
    *  2. regroup by doc_id to reassemble (sort_array over (idx, para)
    *     structs restores document order).
    *
    * The corpus is scanned twice — once exploded, once for the per-doc
    * paragraph totals (both pruned to (doc_id, text)). Deliberate:
    * materializing the exploded side to read it twice would trade the
    * second read for a corpus-sized write, and a fully-deduped doc's total
    * can't ride the survivor aggregation (it has no survivor rows).
    */
  def paragraphDedup(documents: DataFrame, delim: String = "\n\n"): DataFrame = {
    val paras = documents.select(
      col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(delim), -1))
        .as(Seq("idx", "para")))
    val survivors = paras
      .groupBy("para")
      .agg(min(struct(col("doc_id"), col("idx"))).as("o"))
      .select(col("o.doc_id").as("doc_id"), col("o.idx").as("idx"), col("para"))
    val rebuilt = survivors
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(sort_array(collect_list(struct(col("idx"), col("para")))),
            s => s.getField("para")),
          delim).as("text"),
        count(lit(1)).as("n_kept"))
    documents
      .select(col("doc_id"),
        size(split(col("text"), java.util.regex.Pattern.quote(delim), -1))
          .cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        col("n_paras"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("doc_id")
  }

  /** Substring-level exact dedup (the ExactSubstr pass of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", at token
    * granularity): every k-token span that appears MORE than once in the
    * corpus is removed everywhere EXCEPT its first occurrence (first by
    * (doc_id, position) — deterministic, like paragraphDedup). Documents are
    * reassembled from their surviving tokens; fully-covered docs come back
    * as empty rows (dropping is the filter's job).
    *
    * The reference algorithm builds a corpus-wide suffix array; that is a
    * single-machine design. The distributed re-expression works on stride-1
    * k-gram occurrences:
    *  1. occurrences: map-only explode → (doc_id, pos, gram). O(tokens) rows.
    *  2. duplicate grams: groupBy(gram).agg(count, min(struct(doc_id,pos))).
    *     Partial aggregation collapses hot boilerplate grams map-side — the
    *     million-fold license header reaches the reducer once per map
    *     partition, exactly like paragraphDedup's survivor aggregation.
    *  3. flagged occurrences: join occurrences back on gram, drop the
    *     canonical one. The join is gram-keyed; its skew bound is the
    *     occurrence count of the hottest gram, which step 2's `n` exposes —
    *     feed `Analytics.skewReport` the gram frame to size a cap if a
    *     corpus needs one.
    *  4. covered positions: explode each flagged span to its k positions,
    *     collect_set per doc (overlapping spans dedup in the aggregate).
    *  5. rebuild: one narrow left join (only docs that lost tokens have a
    *     row on the right), then a map-only index-aware filter + rejoin.
    *     The per-token array_contains over the covered set is O(|covered|)
    *     — bounded by doc length, never by corpus size.
    *
    * This k-gram formulation flags exactly the spans the suffix-array pass
    * flags with match length = k; longer shared runs are covered by their
    * overlapping k-grams (a shared m-token run, m ≥ k, is removed in full:
    * all m−k+1 of its k-grams are duplicates).
    *
    * [[substringDedupByHash]] is the 100 TB twin: identical semantics keyed
    * on xxhash64(gram) so shuffles carry 8-byte keys instead of k-word
    * strings (collision odds 2^-64, the exactByHash precedent); spec-proven
    * equal on the testdata corpus.
    */
  def substringDedup(documents: DataFrame, k: Int = 5): DataFrame =
    substringDedupImpl(documents, k, identity)

  /** See [[substringDedup]] — 8-byte gram keys for narrow shuffles. */
  def substringDedupByHash(documents: DataFrame, k: Int = 5): DataFrame =
    substringDedupImpl(documents, k, xxhash64(_))

  private def substringDedupImpl(documents: DataFrame, k: Int,
                                 gramKey: Column => Column): DataFrame = {
    // tokenization feeds the gram explosion AND the final reassembly join;
    // the gram frame feeds the dup-gram agg AND the coverage join — one
    // materialization each, or the O(T·k) slice+join gram construction
    // runs twice and the tokenizer three times (the ppjoin shingle-frame
    // precedent)
    val toks = documents.select(col("doc_id"), split(col("text"), " ").as("t"))
      .localCheckpoint(true)
    val occ = toks
      .select(col("doc_id"),
        explode(when(size(col("t")) >= k, sequence(lit(0), size(col("t")) - k))
          .otherwise(array().cast("array<int>"))).as("pos"),
        col("t"))
      .select(col("doc_id"), col("pos"),
        gramKey(array_join(slice(col("t"), col("pos") + 1, lit(k)), " ")).as("gram"))
      .localCheckpoint(true)
    val dups = occ.groupBy("gram")
      .agg(count(lit(1)).as("n"), min(struct(col("doc_id"), col("pos"))).as("canon"))
      .where(col("n") > 1)
      .select(col("gram"), col("canon"))
    val covered = occ.join(dups, Seq("gram"))
      .where(!(col("doc_id") === col("canon.doc_id") && col("pos") === col("canon.pos")))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + k - 1)).as("cp"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("cp"))).as("cov"))
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(
          filter(col("t"), (_, i) =>
            !array_contains(coalesce(col("cov"), array().cast("array<int>")), i)),
          " ").as("text_dedup"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"))
      .orderBy("doc_id")
  }

  /** The band-key array of a minhash signature — ONE construction shared
    * by the ad-hoc [[minhashLsh]] and the persistent band-hash store
    * ([[bandHashKeys]]): the stored fingerprints must keep corresponding
    * to the live candidate keys across releases, so the spelling
    * (separator, band index prefix, 1-based element_at) lives in exactly
    * one place.
    */
  private def bandKeysArray(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      concat_ws(":", lit(b) +:
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** Per-doc LSH BAND-KEY hashes — the near-dup analog of the 8-byte
    * content hash: one xxhash64 per (band, minhash slice) of the doc's
    * signature, exactly [[minhashLsh]]'s band construction folded to a
    * long. Two docs share a band hash iff their signatures agree on that
    * band's `rowsPerBand` minhashes — identical docs share ALL bands,
    * near-identical docs share most (the standard LSH collision curve).
    * This is the storable fingerprint the incremental near-dup store
    * ([[graft.streaming.ViewMaintenance.mergeBandHashesBatch]]) keeps:
    * numBands longs per doc, never text or shingles.
    */
  def bandHashKeys(documents: DataFrame, numHashes: Int = 32,
                   rowsPerBand: Int = 2): DataFrame = {
    val numBands = numHashes / rowsPerBand
    documents
      .select(col("doc_id"), minhashSignature(col("text"), numHashes).as("sig"))
      .select(col("doc_id"),
        explode(bandKeysArray(col("sig"), numBands, rowsPerBand)).as("band_key"))
      .select(col("doc_id"), xxhash64(col("band_key")).as("h"))
  }

  /** CORPUS SNAPSHOT DIFF — dataset versioning's "what changed between
    * releases": classify every key as added / removed / changed /
    * unchanged between two corpus snapshots by comparing CONTENT HASHES
    * (md5 — the engine's cross-engine hash convention, so the op is
    * oracle-checked), never the text. The audit artifact behind
    * reproducible dataset releases: a training run pinned to snapshot A
    * can answer "what would moving to B actually change" from key-sized
    * output.
    *
    * Scale shape: each side collapses to (key, 16-byte hash) at the scan
    * — text never shuffles — then ONE full-outer hash join on the key.
    * `unchanged` rows are dropped by default (at 100 TB they are ~all of
    * the output and carry no information); pass keepUnchanged=true for
    * the complete ledger.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCol: String = "doc_id", contentCol: String = "text",
                   keepUnchanged: Boolean = false): DataFrame = {
    // explicit presence flags: md5(NULL content) is NULL, so hash nullness
    // cannot double as row-absence — a null-text row present on one side
    // would otherwise misreport as added/removed instead of changed
    val o = oldSnap.select(col(keyCol), md5(col(contentCol)).as("old_hash"),
      lit(true).as("_in_old"))
    val n = newSnap.select(col(keyCol), md5(col(contentCol)).as("new_hash"),
      lit(true).as("_in_new"))
    val joined = o.join(n, Seq(keyCol), "full_outer")
      .select(col(keyCol), col("old_hash"), col("new_hash"),
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(!(col("old_hash") <=> col("new_hash")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
    (if (keepUnchanged) joined else joined.where(col("status") =!= "unchanged"))
      .orderBy(keyCol)
  }

  /** ENTITY-RESOLUTION near-duplicate pairs by EDIT DISTANCE under a
    * blocking key — the record-linkage primitive for short strings
    * (product names, user handles, token symbols) where the shingle
    * family is meaningless ("red widget"/"red widgets" shares almost no
    * 3-token grams but is edit distance 1). The classic two-phase ER
    * shape: candidates = pairs sharing the BLOCKING key (one equi-join —
    * never all-pairs), verification = exact codegen'd `levenshtein`
    * ≤ maxDist. Levenshtein's unit-cost DP is engine-independent, so the
    * pair set is oracle-checkable.
    *
    * Scale: the block join fans Σ|block|² — the blocking key is the
    * knob (brand, prefix, phonetic code), and `blockCap` is the loud
    * valve (throws rather than silently quadratic — pick a finer key;
    * multi-pass blocking with different keys is the standard recall
    * answer and composes as a union of calls + distinct).
    */
  def editDistancePairs(df: DataFrame, keyCol: String, textCol: String,
                        blockCol: String, maxDist: Int = 2,
                        blockCap: Int = 10000): DataFrame = {
    // spread the probe side: a dimension-sized input often rides ONE
    // split, and the |block|²-pair sweep it drives would run in one task
    // (the knnGraph parallelism lesson — measured 17.6s → ~2s at sf0.1)
    val b = df.select(col(keyCol).as("k"), col(textCol).as("txt"),
        col(blockCol).as("blk"))
      .where(col("k").isNotNull && col("txt").isNotNull && col("blk").isNotNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true) // valve probe + both join sides
    val over = b.groupBy("blk").agg(count(lit(1)).as("n"))
      .where(col("n") > blockCap).limit(1).count()
    if (over > 0) sys.error(
      s"editDistancePairs: block over blockCap=$blockCap rows — " +
        "a silent |block|^2 pair explosion; use a finer blocking key")
    // the distance test lives IN the join condition, ordered cheap-first:
    // codegen short-circuits k<k before the DP runs, halving levenshtein
    // evaluations (a post-join filter gets pushed here anyway, but with
    // the expensive conjunct first — measured 29.6s → the reordering +
    // survivors-only recompute brings the sf0.1 block sweep to join-bound)
    // r15 (guide §4 — keep the expensive kernel cheap): the THRESHOLD
    // levenshtein (3-arg, Spark 3.5+) runs the banded O(maxDist·n) DP
    // with early exit instead of the full O(n·m) table; it returns -1
    // above maxDist, else the exact distance — same predicate, same
    // surviving distances (oracle hash identical). In-JVM A/B
    // (OPTIMIZATION_r15.md §3): the sweep drops 1.04s → 0.71s at sf0.1;
    // a length-bucket blocking refinement (probe ±1 width-(k+1) bucket)
    // measured NEUTRAL on top — the length-difference conjunct below
    // already kills those pairs before the DP, so the simpler spelling
    // stays.
    b.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.k") < col("b.k") &&
          // |len(a)−len(b)| is a levenshtein lower bound: prune before
          // the DP runs (sound, cheap, classic)
          abs(length(col("a.txt")) - length(col("b.txt"))) <= maxDist &&
          levenshtein(col("a.txt"), col("b.txt"), maxDist) >= 0)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        col("a.txt").as("text_a"), col("b.txt").as("text_b"),
        // recomputed only for the few surviving pairs (threshold form:
        // ≤ maxDist here by construction, so it equals the unbounded DP)
        levenshtein(col("a.txt"), col("b.txt"), maxDist).cast("long").as("dist"))
      .orderBy("key_a", "key_b")
  }

  /** ASYMMETRIC n-gram CONTAINMENT pairs: flag (a, b) when most of one
    * doc's distinct n-grams appear in the other — containment(a⊂b) =
    * |S_a ∩ S_b| / |S_a|. The signal the symmetric Jaccard family
    * structurally misses: a tweet quoted inside an article scores
    * Jaccard ≈ |tweet|/|article| ≈ 0 but containment ≈ 1 — partial
    * copies, quote farms, and boilerplate-wrapped extractions dedup on
    * THIS measure (the ExactSubstr pass catches verbatim runs; this
    * catches shuffled/partial reuse).
    *
    * Shape: grams use the cross-engine 56-bit md5 convention
    * ([[TextMetrics.gramKeys]] — the oracle re-derives exact keys), so
    * every shuffle carries (doc_id, long) pairs, never text. Candidates
    * come from the inverted gram join (Σ df² pairs per gram); grams
    * above `dfCap` document frequency are dropped by the standard
    * partial-agg-count + broadcast anti-join valve BEFORE the join —
    * SOUND for this operator's direction: capping only removes shared
    * grams, so containment is under-estimated and a flagged pair is
    * always genuinely shared (boilerplate grams shared by thousands of
    * docs are the least informative and the quadratic hazard; the
    * oracle runs uncapped, so the cap must be vacuous on the gate).
    * Sizes |S_a| are counted on the UNCAPPED frame (the denominator is
    * the doc's real vocabulary, not the valve's view of it).
    */
  def containmentPairs(documents: DataFrame, n: Int = 3, tau: Double = 0.5,
                       dfCap: Int = 1000): DataFrame = {
    val grams = TextMetrics.gramKeys(documents, n, Seq("doc_id"))
      .localCheckpoint(true) // feeds df count, sizes AND both join sides
    val over = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap).select("g")
    val kept = grams.join(broadcast(over), Seq("g"), "left_anti")
    // r15 (guide §2.4): sizes joins back under BOTH orientations (size_a,
    // size_b) — without a barrier the per-doc gram aggregation re-runs
    // twice. Doc-grain (doc_id, long) rows, far below the gram frame
    // already pinned above.
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      .localCheckpoint(true)
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("size_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("size_b")), "doc_b")
      .withColumn("containment_a",
        round(col("shared").cast("double") / col("size_a"), 12))
      .withColumn("containment_b",
        round(col("shared").cast("double") / col("size_b"), 12))
      .where(col("containment_a") >= tau || col("containment_b") >= tau)
      .select("doc_a", "doc_b", "shared", "size_a", "size_b",
        "containment_a", "containment_b")
      .orderBy("doc_a", "doc_b")
  }

  /** PAIR-SET AGREEMENT metrics between two near-dup pair lists — the
    * dedup side of [[Retrieval.rankingAgreement]]'s evaluation story: how
    * much of detector A's signal does detector B capture (and vice
    * versa), the question a curation team answers before swapping a
    * cheaper detector in or tightening a threshold. One row:
    * `n_a`/`n_b`/`n_common` exact pair counts, set-level `jaccard`, and
    * the two directional shares `share_a_in_b` = n_common/n_a ("B's
    * recall of A's pairs") / `share_b_in_a` (NULL over empty
    * denominators — the one-sided rule). Inputs are (doc_a, doc_b) pair
    * frames in the family's doc_a < doc_b orientation; duplicates are
    * collapsed before counting.
    *
    * Scale shape: one full-outer join + partial-agg counts over pair
    * KEYS only (16 bytes/row) — the pair lists themselves are already
    * bounded by their operators' candidate valves; no text, no vectors,
    * no driver loop.
    */
  def pairSetMetrics(a: DataFrame, b: DataFrame): DataFrame = {
    val fa = a.select(col("doc_a"), col("doc_b")).distinct()
      .withColumn("in_a", lit(1))
    val fb = b.select(col("doc_a"), col("doc_b")).distinct()
      .withColumn("in_b", lit(1))
    fa.join(fb, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(col("in_a")).as("n_a"),
        count(col("in_b")).as("n_b"),
        count(when(col("in_a").isNotNull && col("in_b").isNotNull, lit(1)))
          .as("n_common"))
      .select(
        col("n_a"), col("n_b"), col("n_common"),
        when(col("n_a") + col("n_b") - col("n_common") > 0,
          round(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")).cast("double"), 12))
          .as("jaccard"),
        when(col("n_a") > 0,
          round(col("n_common").cast("double") / col("n_a").cast("double"), 12))
          .as("share_a_in_b"),
        when(col("n_b") > 0,
          round(col("n_common").cast("double") / col("n_b").cast("double"), 12))
          .as("share_b_in_a"))
  }

  /** CANONICAL-document selection per near-dup cluster — the "which copy do
    * we keep" decision that turns [[dupClusters]]'s labeling into an
    * actionable keep/drop list. The canonical member is the cluster's
    * longest document (`n_chars` desc, doc_id asc tie-break: prefer the most
    * complete copy, deterministically); every non-clustered document is its
    * own canonical. Downstream, training reads `WHERE is_canonical` and
    * loses no content, only near-copies — the keeper policy NeMo-Curator /
    * CCNet pipelines apply after connected components.
    *
    * Scale shape: `clusters` holds only documents that belong to some
    * dup cluster — at real dup rates (5-30%) a small fraction of the
    * corpus. The canonical pick is ONE partial agg on cluster_id over
    * (cluster_id, n_chars, doc_id) triples — `min_by` struct argmax, no
    * window, no re-sort. The corpus-side decoration is a left join on
    * doc_id (AQE-broadcastable while the cluster membership list fits,
    * plain hash join beyond); document text never shuffles — only
    * (doc_id, cluster_id, canonical_id) longs.
    */
  def canonicalDocs(documents: DataFrame, clusters: DataFrame): DataFrame = {
    val members = clusters
      .join(documents.select(col("doc_id"), col("n_chars")), "doc_id")
    val canon = members.groupBy("cluster_id")
      .agg(min_by(col("doc_id"),
        struct((-col("n_chars")).as("neg_len"), col("doc_id"))).as("canonical_id"))
    documents.select(col("doc_id"), col("n_chars"))
      .join(clusters, Seq("doc_id"), "left")
      .join(canon, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      .withColumn("is_canonical", col("canonical_id") === col("doc_id"))
      .orderBy("doc_id")
  }
}
