package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, NGram, RegexTokenizer}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, scale-first:
  * every near-dup path generates candidate pairs through BUCKETED joins
  * (LSH band → hash-partitioned equi-join), never an all-pairs cross
  * join — at 100 TB the candidate-pair count, not the doc count, is what
  * must stay linear.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per identical text. One
    * hash-aggregate shuffle on the text (at scale: on [[TextAnalysis
    * .fingerprint]] instead, so the shuffle key is 16 bytes, not the
    * document).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_cnt"))
      .select("doc_id", "dup_cnt")
      .orderBy("doc_id")

  /** Exact dedup, window variant (`row_number() = 1` — the
    * oracle-friendly formulation; same shuffle shape as [[exact]]).
    */
  def exactWindow(docs: DataFrame): DataFrame =
    docs.withColumn("rn",
      row_number().over(
        Window.partitionBy(TextAnalysis.fingerprint(col("text")))
          .orderBy("doc_id")))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** Word-level 3-gram shingles — the unit of near-dup similarity.
    * Documents with fewer than 3 tokens yield an EMPTY array: without the
    * guard `sequence(0, size-3)` on size<3 produces a descending sequence
    * whose `slice(_, 0, _)` throws unconditionally.
    */
  def shingles(text: Column): Column = tokenNgrams(TextAnalysis.tokens(text), 3)

  /** The ONE n-gram-over-tokens construction (shingles, repetition
    * bigrams, and decontamination grams all delegate here): space-joined
    * windows of `n` consecutive tokens, EMPTY below `n` tokens (the
    * guard keeps `size − (n−1)` slice lengths non-negative).
    *
    * Built as a zip of `n` shifted views of the token array rather than
    * the per-index `transform(sequence(...), i => slice(...))` spelling:
    * HOFs are interpreted (no codegen), so the per-index version paid
    * one slice COPY per output gram — measured 2.3× slower at sf0.1 —
    * while the zip walks each array once. Per-row cost is the metric
    * that survives a 100 TB fan-out; identical output verified
    * element-for-element against the old spelling.
    */
  private[graft] def tokenNgrams(toks: Column, n: Int): Column = {
    val win = size(toks) - (n - 1)
    val zipped = (2 to n).foldLeft(slice(toks, lit(1), win)) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i), win),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) >= n, zipped)
      .otherwise(array().cast("array<string>"))
  }

  /** Universal-hash family over a 28-bit base hash: `h_i(x) =
    * (a_i·x + b_i) mod p`, p = 2^31−1. One md5 per shingle (the only
    * cryptographic hash), `numHashes` cheap integer hashes derived from
    * it — 16× fewer md5 calls than hashing per (i, shingle), which is
    * the difference that matters when the corpus is 100 TB. All
    * arithmetic stays below 2^59 (a_i < 2^31, x < 2^28), so 64-bit
    * engines agree exactly; constants are fixed so any SQL engine (the
    * DuckDB oracle) reproduces the family bit-for-bit.
    */
  val minhashP = 2147483647L // 2^31 - 1
  def minhashA(i: Int): Long = 1103515245L + 12345L * i
  def minhashB(i: Int): Long = 60251L * (i + 7)

  /** Portable MinHash signatures `h0..h{numHashes-1}` (longs) per
    * document: one codegen'd explode of the distinct shingles to their
    * 28-bit md5-prefix base hash, then a single groupBy(doc_id) with
    * `numHashes` min-aggregates over the universal-hash family above —
    * map-side partial mins keep the shuffle at one row of `numHashes`
    * longs per doc. Documents with no shingles (<3 tokens) drop out,
    * like the MLlib path's ≥1-set-bit requirement.
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 16): DataFrame = {
    // Repartition the narrow (doc_id, text) input BEFORE the expensive
    // shingle-explode + hash stage: a compact corpus slice can arrive
    // as one file split, which would serialize the whole hash pipeline
    // onto a single core. The partition count is EXPLICIT
    // (REPARTITION_BY_NUM) — a bare repartition(col) is
    // REPARTITION_BY_COL, which AQE coalesces right back to one
    // partition because the pre-explode bytes are tiny; the cost is in
    // the downstream per-row work AQE can't see.
    val g = docs.select(col("doc_id"), col("text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text")))).as("gram"))
      // 28-bit base hash: first 7 hex chars of md5 (fused expression;
      // modulus 2^28 is the identity on the 28-bit value)
      .select(col("doc_id"),
        hashBucket(col("gram"), 1L << 28).as("x"))
    val mins = (0 until numHashes).map(i =>
      min(pmod(lit(minhashA(i)) * col("x") + lit(minhashB(i)), lit(minhashP)))
        .as(s"h$i"))
    g.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Banded-LSH near-dup pairs over [[minhashSignatures]] — the
    * production near-dup path. The signature is cut into `bands` bands
    * of `numHashes/bands` rows; a pair is a candidate iff EVERY hash of
    * some band agrees, i.e. an equi-join on (band_idx, concatenated
    * band key) — bucketed, hash-partitionable, AQE-skew-splittable,
    * never all-pairs. Estimated Jaccard = matching positions /
    * numHashes; pairs with estimated distance > `maxDistance` drop.
    *
    * At 16 hashes × 4 bands the detection probability is
    * `1-(1-j^4)^4` ≈ 99% at j=0.9 (the near-dup regime) while j≤0.1
    * noise pairs almost never collide — and unlike
    * [[minhashPairs]]'s per-table signature explode, the join carries
    * only (doc_id, band key).
    *
    * Hot-band skew at scale (measured at sf10, see PLANS.md): a
    * boilerplate near-dup family creates a hot
    * band key whose reducer partition serializes the k² pair products
    * in one task — AQE's skew split cut a planted 20k-family join
    * from 458 s to 126 s at sf10 (72 partial splits, identical
    * output). But the same probe proved AQE's DETECTION can be blinded
    * at exactly the scale that matters: near-identical family rows
    * compress ~10× in shuffle stats, and >2000 reducers switch to
    * `HighlyCompressedMapStatus`, which averages per-block sizes below
    * `spark.shuffle.accurateBlockThreshold` — the skew becomes
    * statistically invisible and the 458 s straggler returns. So the
    * operator carries its OWN defense, upstream of any runtime
    * detector: band-bucket sizes are counted in the candidate stage
    * and buckets above `hotBucketCap` rows are salt-split (scheme
    * below). AQE skew handling stays on as the second line for skew
    * the cap does not cross.
    *
    * Salt×salt block scheme (the classic triangle decomposition of a
    * skewed self-join): a bucket of n > cap rows gets m = ⌈n/cap⌉ salt
    * blocks, each row salted s = hash(doc_id) mod m; side A emits a
    * row into block keys (lo=s, hi=t) for t ∈ [s, m), side B into
    * (lo=u, hi=s) for u ∈ [0, s] — an unordered pair with salts
    * (s_x ≤ s_y) meets in EXACTLY block (s_x, s_y), so no pair is lost
    * or double-built, and diagonal blocks (lo = hi) keep the doc_id
    * order predicate that de-duplicates within a block. One reducer
    * task now builds at most ~cap² pair products instead of n².
    * Per-pair output is identical (the Jaccard estimate depends only
    * on the two signatures), pinned by SkewSpec against an unsalted
    * run with AQE skew handling OFF. The hot-bucket list that drives
    * the broadcast is at most (banded rows)/cap entries and in
    * practice the handful of boilerplate families — a corpus where it
    * approaches the bound is one giant dup family, which no join
    * strategy saves.
    */
  def minhashBandedPairs(docs: DataFrame, maxDistance: Double = 0.6,
      numHashes: Int = 16, bands: Int = 4,
      hotBucketCap: Int = 4096): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(hotBucketCap > 0, "hotBucketCap must be positive")
    val rows = numHashes / bands
    // The signature table materializes ONCE (localCheckpoint): three
    // consumers — the hot-bucket detection aggregate and both join
    // sides — would otherwise each re-run the shingle-explode + md5 +
    // min-aggregate pipeline, which dominates this operator's cost
    // (measured 4× recompute ⇒ ~4× wall time at sf0.1 when the sides
    // didn't share). The banded explode below is cheap array slicing
    // over the checkpointed rows.
    val sig = minhashSignatures(docs, numHashes).localCheckpoint()
    // Carry the signature array THROUGH the band join (sig = 16 longs
    // ≈ 128 B/doc): estimating on the collision rows and
    // deduping after costs bands× shuffle bytes but computes the whole
    // signature pipeline once per side.
    val banded = sig.select(col("doc_id"),
      array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"),
      explode(array((0 until bands).map { j =>
        struct(lit(j).as("band_idx"),
          // ':'-separated so (1,23) never collides with (12,3)
          concat_ws(":",
            (0 until rows).map(q => col(s"h${j * rows + q}").cast("string")): _*)
            .as("band_key"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.band_idx"), col("band.band_key"))
    // plain element_at comparisons, not zip_with/aggregate: array
    // lambdas run interpreted (no codegen) and their first-run JIT cost
    // alone dominated this query's wall time in a fresh JVM
    val matches = (1 to numHashes).map { i =>
      when(element_at(col("a.sig"), i) === element_at(col("b.sig"), i), 1)
        .otherwise(0)
    }.reduce(_ + _)
    val estimate =
      (lit(1.0) - matches.cast("double") / lit(numHashes)).as("jaccard_dist")
    // Hot-bucket detection: a partial-aggregating count per band key
    // (map-side combine makes this one cheap shuffle of distinct keys),
    // then an existence probe — the operator's own runtime decision,
    // same in kind as AQE's, on a frame bounded by (banded rows)/cap.
    val hot = banded.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > hotBucketCap)
    val paired = if (hot.isEmpty) {
      // Cold path (every bucket ≤ cap — all test SFs land here):
      // SHUFFLE_HASH, not the optimizer's broadcast choice: the banded
      // side is O(corpus) — broadcasting it only looks cheap at test SF
      // and would OOM at scale — and with BOTH sides shuffling on the
      // same band keys, the two identical subplans collapse into one
      // ReusedExchange (verified in the executed plan), so the banded
      // explode over the checkpoint runs once.
      banded.as("a").hint("shuffle_hash").join(banded.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          estimate)
    } else {
      // Hot path: salt-split the hot buckets (scheme in the scaladoc).
      // Cold rows ride the same join with m=1 ⇒ lo=hi=0 and singleton
      // sequence explodes — identical semantics, one code path.
      val bm = banded.join(broadcast(hot), Seq("band_idx", "band_key"),
          "left")
        .withColumn("m", coalesce(
          ceil(col("bucket_n") / lit(hotBucketCap.toDouble)).cast("int"),
          lit(1)))
        .withColumn("salt", pmod(hash(col("doc_id")), col("m")))
      val aSide = bm.select(col("doc_id"), col("sig"),
        col("band_idx"), col("band_key"), col("salt").as("lo"),
        explode(sequence(col("salt"), col("m") - 1)).as("hi"))
      val bSide = bm.select(col("doc_id"), col("sig"),
        col("band_idx"), col("band_key"),
        explode(sequence(lit(0), col("salt"))).as("lo"),
        col("salt").as("hi"))
      aSide.as("a").hint("shuffle_hash").join(bSide.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.lo") === col("b.lo") && col("a.hi") === col("b.hi") &&
            // off-diagonal blocks meet each unordered pair exactly once
            // (salt order replaces doc order); diagonal blocks hold
            // both emissions of a row, so doc order dedupes there
            (col("a.lo") =!= col("a.hi") ||
              col("a.doc_id") < col("b.doc_id")))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          estimate)
    }
    paired
      // a pair appears once per colliding band with an identical
      // estimate; keep one
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("jaccard_dist") <= maxDistance)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash+LSH near-dup pairs via MLlib: tokenize → 3-gram shingle →
    * binary feature hash (2^18 dims) → MinHash with `numHashTables` bands.
    * `approxSimilarityJoin` explodes per-band signatures and equi-joins
    * on (band, signature) — candidate generation is a hash join on
    * bucket keys, re-partitionable and skew-splittable by AQE; the
    * quadratic blowup is confined to same-bucket collisions.
    *
    * Returns (doc_a, doc_b, jaccard_dist) with doc_a < doc_b, for pairs
    * with estimated Jaccard distance <= `maxDistance`.
    */
  def minhashPairs(docs: DataFrame, maxDistance: Double = 0.6,
      numHashTables: Int = 8): DataFrame = {
    val tokenizer = new RegexTokenizer()
      .setInputCol("text").setOutputCol("toks")
      .setPattern("\\s+")
    val ngram = new NGram().setN(3).setInputCol("toks").setOutputCol("grams")
    val tf = new HashingTF()
      .setInputCol("grams").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val lsh = new MinHashLSH()
      .setInputCol("features").setOutputCol("bands")
      .setNumHashTables(numHashTables).setSeed(42L)

    val prepared = tf.transform(
      ngram.transform(tokenizer.transform(docs.select("doc_id", "text"))))
      // MinHash requires >=1 set bit: drop docs with <3 tokens
      .filter(size(col("grams")) >= 1)
      // only (id, features) enter the LSH join — text/toks/grams dragged
      // through the per-table explode would multiply shuffle bytes
      .select("doc_id", "features")
    val model = lsh.fit(prepared)
    model.approxSimilarityJoin(prepared, prepared, maxDistance, "jaccard_dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        col("jaccard_dist"))
      .filter(col("doc_a") < col("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash geometry: 60 bits — the widest md5 hex prefix (15 chars)
    * that still fits a POSITIVE 64-bit integer in every engine (16
    * chars can exceed Long.MaxValue, which a non-ANSI string→long cast
    * nulls out). Like the minhash family, md5 is the portability
    * anchor: the DuckDB oracle reproduces per-token hashes, bit votes,
    * bands, and Hamming distances exactly.
    */
  val simhashBits = 60
  val simhashBands = 4
  private val bandBits = simhashBits / simhashBands // 15
  private val bandMask = (1L << bandBits) - 1

  /** Per-token 60-bit portable hash (fused native expression). */
  private def tokHash(tok: Column): Column = fingerprint60(tok)

  /** Documents annotated with their simhash — explode tokens, one
    * codegen'd hash-aggregate of 60 conditional bit-vote sums per doc
    * (each token votes ±1 per bit position; the sign of the vote sum
    * becomes the bit, tie → 0), reassemble the hash. Whole-stage-codegen
    * end to end; the shuffle is by doc_id, which is also the right
    * distribution key at scale. Tokenless docs get simhash 0.
    */
  def withSimhash(docs: DataFrame): DataFrame = {
    // explicit repartition for the same reason as minhashSignatures: the
    // per-row explode+hash work must not ride on one file split
    val toks = docs.select(col("doc_id"), col("text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val h = tokHash(col("tok"))
    val bitVotes = (0 until simhashBits).map { i =>
      sum(when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    val votes = toks.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val hash = (0 until simhashBits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    docs.join(votes.select(col("doc_id"), hash.as("simhash")), Seq("doc_id"), "left")
      .withColumn("simhash", coalesce(col("simhash"), lit(0L)))
  }

  /** SimHash near-dup pairs: band the 60-bit hash into four 15-bit
    * bands; a pair is a candidate iff it collides on at least one band
    * (pigeonhole: any pair within Hamming distance 3 shares a band).
    * Candidates equi-join on (band_idx, band_value) — bucketed, never
    * all-pairs — then exact Hamming distance filters.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    val hashed = withSimhash(docs).select("doc_id", "simhash")
    val banded = hashed.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until simhashBands).map { j =>
        struct(lit(j).as("band_idx"),
          shiftright(col("simhash"), j * bandBits).bitwiseAND(bandMask)
            .as("band_val"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.band_idx"), col("band.band_val"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Decontamination: remove from `corpus` every document whose
    * normalized fingerprint appears in `blocklist` — the train/test
    * leakage guard every training pipeline needs. A LEFT ANTI hash join
    * on the 16-byte fingerprint (never the text): the blocklist side
    * dedups first, so the join carries one row per distinct blocked
    * content. Broadcast when the blocklist is small (a benchmark's test
    * split); shuffle-join at blocklist scale — Catalyst picks by size.
    */
  def decontaminate(corpus: DataFrame, blocklist: DataFrame): DataFrame = {
    val blocked = blocklist
      .select(TextAnalysis.fingerprint(col("text")).as("__blocked_fp"))
      .distinct()
    corpus.join(blocked,
      TextAnalysis.fingerprint(corpus("text")) === col("__blocked_fp"),
      "left_anti")
  }

  /** [[decontaminate]] through a Bloom pre-filter — the 100 TB shape.
    * The exact anti-join shuffles the WHOLE corpus by fingerprint; at
    * scale the corpus side dwarfs the blocklist, and most rows aren't
    * blocked. Here the blocklist aggregates into one broadcast bit
    * array ([[graft.functions.BloomFilterAgg]]); corpus rows probe it
    * MAP-SIDE, and only bloom-positive candidates (true hits + the
    * ~fp-rate sliver of false positives) pay the exact anti-join.
    * No false negatives ⇒ the result EQUALS [[decontaminate]] row for
    * row — which is exactly what the oracle checks. (A NULL text never
    * matches the anti-join, so the probe treats it as a non-hit.)
    *
    * SIZE `nBits` to the blocklist: ~10 bits per distinct blocked
    * fingerprint keeps the false-positive rate ~1% (the default fits
    * ~100k entries); an undersized filter stays CORRECT but saturates,
    * routing most of the corpus into the exact join. The two branches
    * re-scan the corpus; that is the deliberate trade — two cheap
    * columnar scans with a map-side filter beat one scan that shuffles
    * every clean row, and the single-scan spelling (an anti-join gated
    * on the probe) would put the full corpus back through the join.
    */
  def decontaminateBloom(corpus: DataFrame, blocklist: DataFrame,
      nBits: Int = 1 << 20, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.Encoders
    val bloomAgg = udaf(new graft.functions.BloomFilterAgg(nBits, k),
      Encoders.STRING)
    val bloom = blocklist
      .select(TextAnalysis.fingerprint(col("text")).as("__fp"))
      .agg(bloomAgg(col("__fp")).as("__bloom"))
    val probed = corpus
      .crossJoin(broadcast(bloom))
      // null text -> null fingerprint -> null probe; the exact anti-join
      // KEEPS such rows (null never equals), so a non-hit is the
      // equality-preserving reading
      .withColumn("__hit", coalesce(graft.functions.BloomFilterAgg.mayContain(
        col("__bloom"), TextAnalysis.fingerprint(col("text")), nBits, k),
        lit(false)))
      .drop("__bloom")
    val clean = probed.filter(!col("__hit")).drop("__hit")
    val candidates = probed.filter(col("__hit")).drop("__hit")
    clean.unionByName(decontaminate(candidates, blocklist))
  }

  /** Filter-sizing constants for the sharded bloom, single-sourced so
    * the derivation is spec-pinnable (the [[graft.llm.Similarity]]
    * `signLshSteps` pattern): ~10 bits per blocklist entry holds the
    * false-positive rate near 1% at k=5, and each shard's filter is
    * capped at 2²⁸ bits = 32 MiB — small enough that a probe task's
    * build-side hash table stays a comfortable fraction of executor
    * memory, large enough that a 10⁹-entry blocklist needs only ~38
    * shards.
    */
  val bloomBitsPerEntry: Int = 10
  val bloomShardMaxBits: Long = 1L << 28 // 32 MiB per shard
  val bloomShardMinBits: Int = 1 << 16   // 8 KiB floor for tiny lists

  /** Shard plan for [[decontaminateBloomSharded]]: blocklist count →
    * (nShards, nBitsPerShard). Total bits grow linearly with the
    * blocklist (FPR stays fixed); the shard count is whatever keeps
    * each shard under [[bloomShardMaxBits]]; per-shard bits are the
    * exact ceiling-division share rounded up to the aggregator's
    * 64-bit word granularity — no power-of-two rounding, so the plan
    * never overshoots the 32 MiB target by 2×. Examples (pinned by
    * LlmSpec): 10³ entries → (1, 2¹⁶); 10⁸ → (4, ~31 MiB);
    * 10⁹ → (38, ~31.4 MiB).
    */
  def bloomShardPlan(blockCount: Long): (Int, Int) = {
    val n = bloomShardCount(blockCount)
    (n, bloomShardBits(blockCount, n))
  }

  def bloomShardCount(blockCount: Long): Int = {
    val totalBits = math.max(1L, blockCount) * bloomBitsPerEntry
    (((totalBits + bloomShardMaxBits - 1) / bloomShardMaxBits) max 1L).toInt
  }

  /** Per-shard filter bits for `blockCount` entries over `nShards`
    * shards — factored out of [[bloomShardPlan]] so a caller FIXING the
    * shard count still gets bits sized to its actual share (a fixed
    * 2¹⁶-bit default saturates past ~6.5k entries/shard: FPR→1 and the
    * whole corpus routes through the exact re-check — correct, but the
    * sharding's performance point is lost).
    */
  def bloomShardBits(blockCount: Long, nShards: Int): Int = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val totalBits = math.max(1L, blockCount) * bloomBitsPerEntry
    val perShard = (totalBits + nShards - 1) / nShards
    require(perShard <= Int.MaxValue - 63,
      s"$blockCount entries over $nShards shards needs a >2^31-bit " +
        "shard filter; raise nShards")
    val rounded = ((perShard + 63) / 64) * 64 // BloomFilterAgg wants %64
    math.max(bloomShardMinBits.toLong, rounded).toInt
  }

  /** [[decontaminateBloom]] with the filter PARTITIONED into
    * `nShards` independent shards keyed by crc32(fingerprint) mod
    * nShards — the fix for the one way the broadcast spelling stops
    * scaling: filter bits grow with the BLOCKLIST (~10 bits/entry for
    * ~1% FPR, [[bloomBitsPerEntry]]), so at a 10⁹-entry blocklist the
    * single-aggregate filter is a ~1.2 GB byte array that merges up one
    * aggregation tree and lands WHOLE in every probe task. Here each
    * shard aggregates independently (nShards parallel partial-agg trees
    * over 1/nShards-sized buffers), and the probe is a SHUFFLE-HASH
    * join on the shard key — each probe task builds a hash table of
    * only the shard rows in its partition (~totalBits/nShards bytes),
    * never the whole filter. The corpus pays one narrow
    * (id, fingerprint) shuffle instead of a filter broadcast; text
    * never shuffles. The trade flips in the filter's favor exactly when
    * the filter outgrows comfortable broadcast (~100 MB): below that,
    * prefer [[decontaminateBloom]]'s zero-shuffle map-side probe.
    *
    * Both sizing AND probe parallelism are ADAPTIVE by default:
    *  - `nShards`/`nBitsPerShard` ≤ 0 derive from the blocklist count
    *    via [[bloomShardPlan]] (one cheap count job over the narrow
    *    blocklist unless `blockCount` supplies it) — a fixed shard
    *    count either caps parallelism or, with fixed bits, SATURATES
    *    the filter at large blocklists (FPR→1, routing the whole
    *    corpus through the exact re-check: correct but pointless).
    *  - the probe join key is `(shard, salt)` with `nSalts` salts
    *    (default: enough that nShards·nSalts ≥ the session's shuffle
    *    parallelism). Each shard's bloom ROW replicates across its
    *    salts (an explode — nSalts×filterBytes of bounded, chosen
    *    shuffle write); each corpus fingerprint picks one salt by
    *    xxhash64 of its id. Without the salt the probe stage has
    *    exactly nShards distinct keys — and because those partitions
    *    are UNIFORM, AQE's skew-split never rescues it, funneling a
    *    100 TB corpus through a handful of tasks at exactly the scale
    *    this operator targets. With it, probe parallelism tracks the
    *    cluster, independent of how few shards the filter needs.
    *
    * Semantics are IDENTICAL to [[decontaminate]] (no false negatives;
    * bloom-positive candidates re-check exactly): a null text has a
    * null fingerprint, hashes to a null shard, drops out of the inner
    * probe join and stays clean — the same keep-the-row reading as the
    * exact anti-join. `idCol` must be a UNIQUE, non-null row key (it
    * routes bloom hits back to their rows, and the final anti-join is
    * id-wise: under duplicate ids, EVERY row sharing an id with a
    * confirmed-contaminated row would drop, whereas [[decontaminate]]
    * routes fingerprint-wise); the registered query uses doc_id, which
    * is unique by the fixture contract.
    */
  def decontaminateBloomSharded(corpus: DataFrame, blocklist: DataFrame,
      idCol: String = "doc_id", nShards: Int = 0,
      nBitsPerShard: Int = 0, k: Int = 5, nSalts: Int = 0,
      blockCount: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.Encoders
    val fps = blocklist
      .select(TextAnalysis.fingerprint(col("text")).as("__fp"))
      .filter(col("__fp").isNotNull) // null never matches the anti-join
    val cnt =
      if (nShards > 0 && nBitsPerShard > 0) 0L // fully explicit: no count
      else blockCount.getOrElse(fps.count())
    val shards = if (nShards > 0) nShards else bloomShardCount(cnt)
    val bits = if (nBitsPerShard > 0) nBitsPerShard
      else bloomShardBits(cnt, shards)
    val salts =
      if (nSalts > 0) nSalts
      else {
        val target = corpus.sparkSession.sessionState.conf.numShufflePartitions
        math.max(1, (target + shards - 1) / shards)
      }
    val bloomAgg = udaf(new graft.functions.BloomFilterAgg(bits, k),
      Encoders.STRING)
    def shardOf(fp: Column): Column =
      pmod(crc32(fp), lit(shards)).cast("int")
    val blooms = fps
      .groupBy(shardOf(col("__fp")).as("__shard"))
      .agg(bloomAgg(col("__fp")).as("__bloom"))
      // replicate each shard's filter row across the salt space: the
      // build side grows by salts×filterBytes (bounded, chosen), the
      // probe side gains shards×salts distinct join keys
      .withColumn("__salt",
        explode(sequence(lit(0), lit(salts - 1))))
    val hits = corpus
      .select(col(idCol), TextAnalysis.fingerprint(col("text")).as("__fp"))
      .withColumn("__shard", shardOf(col("__fp")))
      .withColumn("__salt", pmod(xxhash64(col(idCol)), lit(salts.toLong))
        .cast("int"))
      .join(blooms.hint("shuffle_hash"), Seq("__shard", "__salt"))
      .filter(graft.functions.BloomFilterAgg.mayContain(
        col("__bloom"), col("__fp"), bits, k))
      .select(col(idCol), col("__fp"))
    // Single-probe routing: a clean/candidate split would consume the
    // probe join TWICE (a left_anti AND a left_semi over the hit ids),
    // materializing the salted shuffle-hash probe subplan twice — 2×
    // probe work at exactly the scale this operator targets. Instead:
    // bloom-positive candidates carry their fingerprint out of the ONE
    // probe, the exact re-check confirms them against the distinct
    // blocklist fingerprints (same join the
    // fallback [[decontaminate]] runs, but over only the candidate
    // sliver), and one anti-join routes the corpus around the confirmed
    // ids. Row-identical: a blocked fingerprint is always bloom-positive
    // (no false negatives), so {id ∈ hits ∧ fp ∈ blocklist} ≡
    // {fp ∈ blocklist}; null fingerprints drop from the inner probe and
    // stay clean, the exact anti-join's keep-the-row reading.
    val confirmed = hits.join(
        fps.select(col("__fp").as("__blocked_fp")).distinct(),
        col("__fp") === col("__blocked_fp"), "left_semi")
      .select(idCol)
    corpus.join(confirmed, Seq(idCol), "left_anti")
  }

  /** Lowercased word n-grams of a text column (empty array below n
    * tokens) — the GPT-3-style contamination unit [Brown et al.,
    * "Language Models are Few-Shot Learners", arXiv:2005.14165 §C uses
    * 13-grams]. Same slice-of-token-sequence shape as
    * [[TextAnalysis.repetitionStats]]'s bigrams.
    */
  def wordNgrams(text: Column, n: Int): Column =
    tokenNgrams(TextAnalysis.tokens(lower(text)), n)

  /** N-gram-overlap decontamination: drop every training document that
    * shares ANY word `n`-gram with the held-out set — the standard
    * benchmark-leakage guard (GPT-3 §C; exact-fingerprint
    * [[decontaminate]] only catches whole-document copies, while a test
    * question pasted INSIDE a larger page still leaks).
    *
    * Shape at 100 TB: the held-out side is benchmark-sized (millions of
    * grams, not billions), so its distinct gram set BROADCASTS and the
    * training side's explode → semi-join probe is map-side — the corpus
    * text itself never shuffles; only the matched doc_ids reach the
    * final anti-join. Two corpus scans (gram probe + row fetch), zero
    * corpus-sized shuffles. The matched-id side is usually tiny but is
    * NOT forced to broadcast — a degenerate held-out set (or a heavily
    * contaminated corpus) can make it arbitrarily large, and a forced
    * broadcast would then blow the 8 GB limit instead of degrading to a
    * shuffle; AQE picks broadcast whenever it actually fits.
    */
  def decontaminateNgrams(train: DataFrame, test: DataFrame,
      n: Int = 8): DataFrame = {
    val testGrams = test
      .select(explode(wordNgrams(col("text"), n)).as("__gram"))
      .distinct()
    val contaminated = train
      .select(col("doc_id"), explode(wordNgrams(col("text"), n)).as("__gram"))
      .join(broadcast(testGrams), Seq("__gram"), "left_semi")
      .select("doc_id").distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** THE portable hash-bucket recipe (28-bit md5 prefix mod `modulus`)
    * — every bucket derivation (splits, mixture sampling, the
    * inverted-index partition key) delegates here so the Spark, DuckDB
    * (`CAST('0x' || substr(md5(k), 1, 7) AS BIGINT) % m`), and
    * driver-side spellings cannot drift independently.
    */
  private[graft] def hashBucket(key: Column, modulus: Long): Column =
    // the fused native expression (graft.functions.HashBucket) —
    // bit-parity with the composed
    // `pmod(conv(substring(md5(key.cast("binary")),1,7),16,10).cast("long"), m)`
    // is property-tested in PropertySpec; the composed chain paid a
    // 32-char hex materialization + base-16 re-parse per row
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.HashBucket(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(
          key.cast("string")),
        org.apache.spark.sql.catalyst.expressions.Literal(modulus)))

  /** Per-mille hash bucket of `salt ++ id` via the portable 28-bit md5
    * prefix — the ONE place the bucket recipe lives; split assignment
    * and mixture sampling derive from it with different salts so their
    * decisions stay independent.
    */
  private[graft] def hashBucket1000(id: Column, salt: String): Column =
    hashBucket(concat(lit(salt), id.cast("string")), 1000L)

  /** The portable 60-bit md5 fingerprint as the fused native expression
    * (graft.functions.HashFingerprint) — bit-parity with the composed
    * `conv(substring(md5(key.cast("binary")), 1, 15), 16, 10).cast("long")`
    * is property-tested in PropertySpec.
    */
  private[graft] def fingerprint60(key: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.HashFingerprint(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(
          key.cast("string"))))

  /** Deterministic train/val/test assignment: bucket = a 28-bit
    * md5-derived hash of the id, mod 1000; thresholds carve the split.
    * Pure function of the id — stable across runs, engines (the DuckDB
    * oracle reproduces it), and cluster layouts, which is what makes a
    * split reproducible at 100 TB; never `rand()`.
    */
  def assignSplit(df: DataFrame, idCol: String,
      trainPerMille: Int = 800, valPerMille: Int = 100): Column = {
    val bucket = hashBucket1000(col(idCol), salt = "")
    when(bucket < trainPerMille, "train")
      .when(bucket < trainPerMille + valPerMille, "val")
      .otherwise("test")
  }

  /** Deterministic domain-mixture sampling: keep a row iff its portable
    * id-hash bucket falls under the per-source keep rate (per-mille) —
    * how a training mix hits its domain targets REPRODUCIBLY: the same
    * doc survives on every run, engine, and cluster layout, unlike any
    * rand()-based sample. The bucket is salted with "mix:" so sampling
    * stays independent of [[assignSplit]]'s buckets (otherwise the
    * sample would correlate with the train/val/test split).
    */
  def sampleByMixture(df: DataFrame, idCol: String,
      ratesPerMille: Seq[(String, Int)],
      defaultPerMille: Int = 1000,
      sourceCol: String = "source"): DataFrame = {
    val bucket = hashBucket1000(col(idCol), salt = "mix:")
    // reversed fold so the FIRST matching entry wins — the same
    // precedence as the oracle's generated CASE arms (foldLeft wraps
    // later entries outermost, which would flip priority on duplicates)
    val rate = ratesPerMille.reverse.foldLeft(lit(defaultPerMille)) {
      case (acc, (s, r)) => when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Duplicate-CLUSTER resolution: connected components over a near-dup
    * pair list, labeling every paired document with the smallest doc_id
    * reachable from it. Pairs alone don't tell a pipeline what to drop —
    * near-dup is not transitive, so A~B, B~C must collapse into ONE
    * cluster {A,B,C} keeping one representative, or chained dups survive
    * two-by-two.
    *
    * Pregel-style min-label propagation, entirely in DataFrame joins:
    * each round takes the min over neighbors' labels, then one
    * pointer-jump (label := label's label) — the jump is what turns
    * O(component diameter) rounds into O(log diameter), the same
    * contraction trick as large-star/small-star [Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14]. Each
    * round is two shuffles on doc_id-sized keys; `localCheckpoint`
    * truncates lineage so the plan doesn't grow with iterations (the
    * classic iterative-Spark failure mode), and the convergence check is
    * one tiny count per round — the driver coordinates supersteps but
    * never holds data.
    *
    * Returns (doc_id, cluster_id, is_rep) for every document that
    * appears in some pair; singleton docs are implicitly their own
    * cluster and are omitted (at 100 TB the pair graph is sparse — the
    * omission keeps this output O(dups), not O(corpus)).
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labels0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster"))
      .localCheckpoint(true)
    val labels = if (labels0.isEmpty) labels0
      else graft.ops.IterateUntilFixed.converge(
        Map("labels" -> labels0), maxIter) { (st, _) =>
        val prev = st("labels")
        val nbrMin = edges
          .join(prev.select(col("id").as("nid"), col("cluster").as("ncl")),
            col("dst") === col("nid"))
          .groupBy(col("src")).agg(min("ncl").as("nbr_min"))
        // stepped materializes once: the pointer jump consumes it on
        // BOTH sides of its self-join — unmaterialized, the
        // edges⋈labels + min-aggregate chain would run twice per round
        val stepped = prev
          .join(nbrMin, prev("id") === nbrMin("src"), "left")
          .select(prev("id"),
            least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
              .as("cluster"),
            // old label rides along so the change witness is a FILTER
            // over the checkpointed round result, not a jumped⋈prev
            // re-join per probe
            prev("cluster").as("__old"))
          .localCheckpoint(true)
        // pointer jump: follow my label's OWN label one hop;
        // pre-checkpointed so the change witness probes materialized
        // partitions instead of re-running the round's joins
        val jumped = stepped.as("x")
          .join(
            stepped.select(col("id").as("pid"), col("cluster").as("pcl")).as("p"),
            col("x.cluster") === col("p.pid"), "left")
          .select(col("x.id").as("id"),
            least(col("x.cluster"), coalesce(col("pcl"), col("x.cluster")))
              .as("cluster"),
            col("x.__old").as("__old"))
          .localCheckpoint(true)
        val changed = jumped.filter(col("cluster") =!= col("__old"))
        (Map("labels" -> jumped.select(col("id"), col("cluster"))), changed)
      }._1("labels")
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
        (col("id") === col("cluster")).as("is_rep"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified (per-group) sample: the first `n` rows of
    * each group in (md5(id), id) order — "give me a reproducible
    * inspection sample of every language / source / split" without
    * `rand()`'s run-to-run drift. One window pass; the md5 order is a
    * uniform pseudo-random permutation, engine-portable like every
    * other hash in this module, and the id tiebreak makes the pick
    * total. At scale the rank prunes partition-locally before any
    * global ordering.
    */
  def samplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      n: Int, rankCol: String = "rn"): DataFrame = {
    require(!df.columns.contains(rankCol),
      s"input already has a '$rankCol' column; pass a different rankCol")
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= n)
  }

  /** Exact n-gram Jaccard over LSH-generated candidates: re-join the
    * shingle sets onto the (pruned) candidate pairs and compute
    * |A∩B| / |A∪B| exactly. The expensive exact measure runs only on
    * candidates ([[minhashBandedPairs]] — portable, so the whole
    * pipeline is DuckDB-oracle-checkable), which is the 100 TB-safe
    * shape. `bands` tunes candidate recall (bands=numHashes ⇒ r=1,
    * any single matching hash is a candidate).
    */
  def ngramJaccard(docs: DataFrame, minJaccard: Double = 0.1,
      maxDistance: Double = 0.8, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    // same explicit repartition as minhashSignatures: the interpreted
    // shingle HOF is the per-row cost a one-split input would serialize
    val grams = docs.select(col("doc_id"), col("text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(
        col("doc_id"),
        array_distinct(shingles(col("text"))).as("grams"))
    val pairs = minhashBandedPairs(docs, maxDistance, numHashes, bands)
      .select("doc_a", "doc_b")
    pairs
      .join(grams.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("grams", "grams_a"), "doc_a")
      .join(grams.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("grams", "grams_b"), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
          size(array_union(col("grams_a"), col("grams_b"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact-substring near-dup detection via stride-sampled character
    * k-gram fingerprints (the relational stand-in for the suffix-array
    * pass of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": docs sharing a long verbatim run share a
    * sampled k-gram once the run exceeds k + stride − 1 chars).
    *
    * Scale shape: each doc emits ≤ len/stride 16-byte md5 fingerprints
    * (bounded, unlike all-positions suffix indexing), the candidate
    * join is an equi-join on the fingerprint (hash-partitioned — a
    * boilerplate gram shared by millions of docs is the skew-join /
    * stop-gram-filter case, same playbook as the LSH band joins), and
    * the pair aggregate counts shared grams map-side.
    */
  def substringPairs(docs: DataFrame, k: Int = 40, stride: Int = 10,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val nIdx = floor((length(col("text")) - lit(k)) / lit(stride.toDouble))
      .cast("int")
    val g0 = docs.filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), nIdx),
          i => md5(col("text").substr(i * lit(stride) + lit(1), lit(k))
            .cast("binary"))))
          .as("gh"))
      .distinct()
    // stop-gram guard — the boilerplate defense at scale: a gram shared
    // by f docs costs f² join rows, so license headers / templated
    // pages turn the bucket join quadratic. The window counts on the
    // SAME gh partitioning the join needs (no extra shuffle beyond it)
    // and drops grams above maxDf; near-dup recall only suffers for
    // pairs whose EVERY shared gram is corpus-boilerplate.
    val g = if (maxDf == Int.MaxValue) g0
      else g0
        .withColumn("df", count(lit(1)).over(Window.partitionBy("gh")))
        .filter(col("df") <= maxDf)
        .drop("df")
    g.as("a").join(g.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .orderBy("doc_a", "doc_b")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
    * MOSS algorithm): hash every character k-gram, slide a w-hash
    * window, keep each window's MINIMUM hash. The guarantee: any
    * verbatim match of length ≥ k + w − 1 shares at least one selected
    * fingerprint, and selection density is ~2/(w+1) — position-robust
    * where [[substringPairs]]' stride sampling is alignment-lucky.
    * Ties inside a window share the same hash VALUE, so no positional
    * tiebreak is needed for the per-doc fingerprint SET.
    *
    * Scale shape: the per-position hash explode is one map pass
    * (corpus-chars rows, same budget as tokenization); the winnow is a
    * doc-partitioned w-row window min; the pair stage reuses the
    * [[substringPairs]] playbook — distinct (doc, fp), hot-fp stop
    * guard (boilerplate defense), fp equi-join, map-side shared
    * counts. No stage is quadratic in corpus size.
    */
  def winnowPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
      maxDf: Int = 32, minShared: Int = 2): DataFrame = {
    val base = docs
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("t"))
      .filter(length(col("t")) >= k + w - 1)
    val ph = base.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), length(col("t")) - lit(k - 1)),
          p => fingerprint60(col("t").substr(p, lit(k))))))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("h"))
    val fr = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(w - 1), 0)
    val sel = ph
      .select(col("doc_id"), col("p"), min("h").over(fr).as("fp"))
      .filter(col("p") >= w) // full windows only
      .select("doc_id", "fp")
      .distinct()
    val g = sel
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= maxDf)
      .drop("df")
    g.as("a").join(g.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Prefix-filtered set-similarity join (the PPJoin family, Xiao et
    * al. 2008) over 3-token shingle sets: EXACT Jaccard ≥ `threshold`
    * pairs, without LSH's recall loss and without the all-pairs join.
    *
    * The prefix lemma: order every doc's shingle set by a single global
    * order (document frequency ascending — rarest first — tiebroken by
    * the shingle itself); two sets with Jaccard ≥ t MUST share at least
    * one shingle among each one's first `|S| − ⌈t·|S|⌉ + 1` shingles.
    * So candidates = the equi-join of PREFIXES only, and the exact
    * Jaccard runs only on candidates — same verify-on-candidates shape
    * as [[ngramJaccard]], but the candidate stage is lossless.
    *
    * Scale shape: df is one vocabulary-sized aggregate; the rank is a
    * per-doc window; the candidate join keys on the rare end of the df
    * distribution (rarest-first ordering is exactly what keeps hot
    * boilerplate shingles OUT of short prefixes — a doc pays a hot gram
    * only when its whole prefix is boilerplate); the verify join
    * carries the two shingle arrays for candidates only.
    */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
      hotBucketCap: Int = 4096): DataFrame = {
    require(hotBucketCap > 0, "hotBucketCap must be positive")
    // Shingles carry as 60-bit md5-prefix FINGERPRINTS (the multimodal
    // checksum recipe) from the first projection on: the candidate join
    // keys, the df aggregate, and the verify intersections all work on
    // longs instead of ~25-char strings — measured 3× on the verify
    // stage, and the materialized set table is a fraction of the bytes.
    // The operator is DEFINED over the fingerprint space (the oracle
    // mirrors the same recipe, so results agree exactly even in the
    // ~2^-61-per-pair collision case); the SignalsSpec brute-force test
    // pins fingerprint results == raw-gram results on a planted corpus.
    //
    // The set table materializes ONCE (localCheckpoint — the
    // pagerank_iter precedent): four consumers (df aggregate, prefix
    // rank, and both verify-join sides) would otherwise each re-run the
    // regexp explode over the corpus; a production job persists this
    // derivative the same way. The prefix table deliberately does NOT —
    // its two candidate-join sides dedupe through ReusedExchange.
    val fp = (g: Column) => fingerprint60(g)
    // inner array_distinct BEFORE the fingerprint transform: the fp HOF
    // is interpreted per element, so dropping duplicate raw grams first
    // shrinks its input (~20% of the set-build stage at sf0.1); the
    // outer distinct stays for the ~2^-61 collision case
    val sets = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"),
        array_distinct(
          transform(array_distinct(shingles(lower(col("text")))), fp))
          .as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), col("grams"), size(col("grams")).as("sz"))
      .localCheckpoint()
    val tok = sets.select(col("doc_id"), col("sz"),
      explode(col("grams")).as("gram"))
    val df = tok.groupBy("gram").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))
    // NOT checkpointed: the candidate join's two sides are the same
    // subplan shuffled on the same key, so the prefix pipeline runs
    // once and the second side is a ReusedExchange — a checkpoint here
    // only adds a materialization barrier (measured 5.7 → 4.1 s at
    // sf0.1 removing it; plan shape pinned in SignalsSpec)
    // df > 1 AFTER the rank (ranks must count every prefix slot): a
    // df=1 gram sits in exactly one doc's prefix, so it can never find
    // a candidate-join partner. Lossless by definition of df;
    // brute-force parity pinned in SignalsSpec. On THIS fixture the cut
    // is a no-op (207 of 134k prefix rows at sf0.1 — the synthetic
    // vocab is dense), but on a Zipfian web corpus the singleton tail
    // dominates rarest-first prefixes, and every dropped row is
    // candidate-shuffle bytes that produce nothing.
    val prefix = tok.join(df, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .filter(col("df") > 1)
      .select("doc_id", "gram", "rn", "sz")
    // PPJoin's positional filter, applied per matching prefix gram: a
    // match at ranks (rn_a, rn_b) can still reach Jaccard ≥ t only if
    // the elements AFTER it could supply the required overlap
    // α = ⌈t/(1+t)·(|A|+|B|)⌉. Measured at sf0.1: 409k → 125k
    // candidates before the (exact) verify join. t/(1+t) rounds DOWN in
    // IEEE, so the bound never over-prunes; the SignalsSpec brute-force
    // parity test guards losslessness end-to-end. Both this and the
    // length filter below are symmetric under a↔b swap, which is what
    // lets the hot path order pairs by salt instead of doc_id.
    //
    // Length filter (PPJoin lemma 1): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    // so J ≥ t forces the smaller set to carry ≥ ⌈t·max⌉ elements. It
    // prunes size-mismatched pairs the positional bound alone keeps
    // (e.g. a rank-1 prefix hit between a 10-gram and a 100-gram doc).
    // Cheap long comparisons on columns already in the joined row, ahead
    // of the distinct and the array-carrying verify join.
    val ppjoinFilters =
      least(col("sz_a"), col("sz_b")) >=
        ceil(lit(threshold) * greatest(col("sz_a"), col("sz_b"))) &&
        lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
          ceil(lit(threshold / (1 + threshold)) * (col("sz_a") + col("sz_b")))
    // Hot-gram defense (same rationale and salt×salt block scheme as
    // [[minhashBandedPairs]] — see its scaladoc): rarest-first prefix
    // ordering keeps boilerplate shingles out of prefixes UNLESS a
    // doc's whole prefix is boilerplate, and the sf10 skew probe proved
    // AQE's detection of exactly that family can be blinded by shuffle
    // compression. Detection keys on the df aggregate the pipeline
    // already computes, not on a count over the prefix rows: df ≥ the
    // gram's prefix-bucket size, so no hot bucket escapes, and the
    // overestimate (a hot-df gram that rarest-first ordering kept out
    // of most prefixes) only costs ~⌈df/cap⌉/2 block replicas of the
    // FEW rows it kept — while counting prefix rows directly would
    // re-run the rank window, which measured +24% on the cold path.
    val hot = df.filter(col("df") > hotBucketCap)
      .select(col("gram"), col("df").as("bucket_n"))
    val cand = if (hot.isEmpty) {
      // Alias-only join sides + SHUFFLE_HASH: a column-RENAMING Project
      // on each side defeats plan canonicalization, so no exchange is
      // shared and the planner (picking broadcast at small SF) rebuilds
      // the whole df+rank prefix pipeline on the probe side — the
      // window stage runs twice in the executed plan. Bare as("a")/as("b") aliases keep the two
      // subplans canonically identical (the minhashBandedPairs
      // precedent, where reuse is verified to fire), and the shuffle
      // spelling gives them a common Exchange(gram) to collapse into —
      // which is also the only strategy that scales: the prefix table
      // is O(corpus), never broadcastable at the scale this operator
      // targets. Renames move to one Project ABOVE the join.
      prefix.as("a").hint("shuffle_hash").join(prefix.as("b"),
          col("a.gram") === col("b.gram") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.rn").as("rn_a"), col("a.sz").as("sz_a"),
          col("b.rn").as("rn_b"), col("b.sz").as("sz_b"))
        .filter(ppjoinFilters)
        .select("doc_a", "doc_b").distinct()
    } else {
      // materialized once: with per-side salt emissions the two join
      // sides are no longer the identical subplan ReusedExchange
      // dedupes on the cold path, so without this the whole prefix
      // pipeline (df aggregate + rank window) would run twice
      val pm = prefix.join(broadcast(hot), Seq("gram"), "left")
        .withColumn("m", coalesce(
          ceil(col("bucket_n") / lit(hotBucketCap.toDouble)).cast("int"),
          lit(1)))
        .withColumn("salt", pmod(hash(col("doc_id")), col("m")))
        .localCheckpoint()
      val pa = pm.select(col("doc_id").as("doc_a"), col("gram"),
        col("rn").as("rn_a"), col("sz").as("sz_a"), col("salt").as("lo"),
        explode(sequence(col("salt"), col("m") - 1)).as("hi"))
      val pb = pm.select(col("doc_id").as("doc_b"), col("gram"),
        col("rn").as("rn_b"), col("sz").as("sz_b"),
        explode(sequence(lit(0), col("salt"))).as("lo"),
        col("salt").as("hi"))
      pa.join(pb, Seq("gram", "lo", "hi"))
        .filter((col("lo") =!= col("hi") || col("doc_a") < col("doc_b")) &&
          ppjoinFilters)
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct()
    }
    val jac = col("inter").cast("double") /
      (col("sz_a") + col("sz_b") - col("inter")).cast("double")
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("grams").as("g_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("grams").as("g_b"),
        col("sz").as("sz_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("g_a"), col("g_b"))).cast("long").as("inter"),
        col("sz_a"), col("sz_b"))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(jac, 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric CONTAINMENT near-dup join: every directed pair (a, b)
    * with |A∩B| / |A| ≥ `threshold` — the quote/subset duplication
    * Jaccard misses (a paragraph pasted into a much larger page has
    * tiny Jaccard but containment ≈ 1, so MinHash banding structurally
    * cannot surface it; cf. the suffix-array motivation of Lee et al.
    * 2022 that [[substringDupPairs]] approximates at the character
    * level — this is its token-set counterpart).
    *
    * Candidate generation reuses the PPJoin prefix lemma on the
    * CONTAINED side only: if B holds ≥ ⌈t·|A|⌉ of A's grams it misses
    * at most |A| − ⌈t·|A|⌉, so it must hit A's rarest-first prefix of
    * length |A| − ⌈t·|A|⌉ + 1. The container side has no usable size
    * bound (that's what "asymmetric" costs), so B joins through its
    * full inverted gram list — the scale lever is that prefixes key on
    * the RARE end of the df distribution (hot boilerplate grams only
    * enter a prefix when the whole doc is boilerplate; a web corpus
    * additionally caps hub grams before this join, the stop-gram
    * move). df=1 prefix grams drop (nothing to join), and candidates
    * with sz_b < ⌈t·sz_a⌉ drop before the distinct (inter ≤ |B| makes
    * them unreachable) — both lossless.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8)
      : DataFrame = {
    val fp = (g: Column) => fingerprint60(g)
    val sets = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"),
        array_distinct(
          transform(array_distinct(shingles(lower(col("text")))), fp))
          .as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), col("grams"), size(col("grams")).as("sz"))
      .localCheckpoint()
    val tok = sets.select(col("doc_id"), col("sz"),
      explode(col("grams")).as("gram"))
    val df = tok.groupBy("gram").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))
    val pre = tok.join(df, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .filter(col("df") > 1)
      .select(col("doc_id").as("doc_a"), col("gram"), col("sz").as("sz_a"))
    val tokB = tok.select(col("doc_id").as("doc_b"), col("gram"),
      col("sz").as("sz_b"))
    val cand = pre.join(tokB, Seq("gram"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("sz_b") >= ceil(lit(threshold) * col("sz_a")))
      .select("doc_a", "doc_b").distinct()
    val cont = col("inter").cast("double") / col("sz_a").cast("double")
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("grams").as("g_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("grams").as("g_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("g_a"), col("g_b"))).cast("long")
          .as("inter"),
        col("sz_a"))
      .filter(cont >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(cont, 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Temperature-scaled mixture weights over a grouping column: the
    * multilingual/multi-source resampling rule w_i ∝ p_i^α (α = 0.5
    * here via sqrt — the unbalanced-data temperature sampling of
    * mBERT/XLM-R; α < 1 upweights the tail). Per-group masses are
    * quantized to integer nano-units before the normalizing sum (the
    * module's order-independence contract; sqrt, unlike pow, is
    * IEEE-correctly-rounded in every engine). One group-count
    * aggregate and two scalar broadcasts — group-cardinality-sized, so
    * corpus scale is irrelevant.
    */
  def mixtureWeights(df: DataFrame, groupCol: String): DataFrame = {
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").cast("double").as("nt"))
    val mass = counts.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n"),
        bround(sqrt(col("n").cast("double") / col("nt")) * lit(1000000000.0))
          .cast("long").as("a_nano"))
    val z = mass.agg(sum("a_nano").as("z"))
    mass.crossJoin(broadcast(z))
      .select(col(groupCol), col("n"), col("a_nano"),
        bround(col("a_nano").cast("double") / col("z").cast("double"), 6)
          .as("weight"))
      .orderBy(groupCol)
  }

  /** Rendezvous (highest-random-weight) shard assignment: every id
    * hashes against every shard, the max hash wins. The property that
    * matters at fleet scale: adding a shard moves ONLY the ids the new
    * shard now wins (~1/(n+1) of them) — no mass resharding, unlike
    * `id mod n`. Returns one row per id with the winning shard.
    *
    * Scale shape: a bounded nShards-way explode (map-only) and one
    * window pass partitioned by id — embarrassingly parallel; no
    * global state, so assignment is stable under any cluster topology.
    * md5 keeps the weights engine-portable like every hash here.
    */
  def rendezvousShard(df: DataFrame, idCol: String, nShards: Int,
      shardCol: String = "shard"): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(col("h").desc, col("s"))
    df.select(col(idCol),
        explode(sequence(lit(0), lit(nShards - 1))).as("s"))
      .withColumn("h",
        md5(concat(col("s").cast("string"), lit(":"),
          col(idCol).cast("string")).cast("binary")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("s").as(shardCol))
  }
}
