package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact (hash
  * groupBy), MinHash+LSH (shingle → signature → band → bucket join),
  * SimHash (bitwise fingerprint + hamming bands), and exact n-gram
  * Jaccard. Embedding-cosine near-dup lives in SimilarityOps.
  *
  * Everything is deterministic and built on md5 (the one hash both
  * Spark and DuckDB evaluate identically), so each operator has an
  * exact SQL oracle. At 100 TB the shapes matter more than the hash:
  *   - exact dedup: one shuffle on the fingerprint;
  *   - MinHash LSH: one explode (bands) + one self-join on
  *     (band_idx, band_hash) — the join keys are uniform md5 buckets,
  *     so no skew; candidate verification touches only candidate pairs,
  *     never the full cross product;
  *   - n-gram Jaccard: inverted-index join with a hot-shingle frequency
  *     cap so a stop-shingle cannot create a quadratic bucket.
  */
object DedupOps {


  /** Exact dedup: fingerprint = md5(normalized text); keeper = min
    * doc_id per fingerprint group (one shuffle, no sort).
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), TextOps.fingerprintExpr(col("text")).as("fp"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .withColumn("is_keeper", col("doc_id") === col("keeper_id"))
      .select(col("doc_id"), col("fp"), col("group_size"), col("keeper_id"), col("is_keeper"))
  }

  /** Distinct word-3-gram postings per doc as flat (doc_id, shingle)
    * rows. Shingles are built PER ROW by the codegen `word_ngrams`
    * expression — tokens never leave their document row, so the only
    * shuffle is the final distinct. (Earlier forms: `transform`+`slice`
    * HOF lambdas were interpreted with per-element boxing; the window
    * `lead` rewrite was codegen but shuffled the whole 100×-inflated
    * token stream by doc_id just to see neighbors.) Docs with < 3
    * tokens produce no shingles.
    */
  /** The shared (doc_id, shingle) posting — shingles as 60-bit md5
    * HASHES (the `shingle_hashes` kernel), distinct PER ROW via
    * `array_distinct` before the explode. Two structural wins over
    * the round-1 string form: the corpus-wide `distinct()` SHUFFLE is
    * gone (per-doc distinctness is row-local — cross-doc distinctness
    * was never needed), and every downstream join/group key is a
    * LONG, not a multi-word string (~3× fewer shuffle bytes, cheaper
    * equality). A 60-bit collision would merge two shingles in any
    * engine identically only if the ORACLE hashed too — it does not,
    * so the gate itself bounds collision risk (expected spurious
    * merges at 10⁹ distinct shingles: ~10¹⁸/2⁶¹ < 1; decontam's
    * argument, now load-bearing here and verified by the hash gate at
    * three SFs).
    *
    * The localCheckpoint before the explode is the
    * InferFiltersFromGenerate barrier (the optimizer's synthesized
    * `size(...) > 0` filter would otherwise re-run the whole kernel
    * once more per row — the winnowing 50× lesson, in miniature).
    */
  /** Round 11: the per-doc distinct 3-shingle hash sets are staged
    * DURABLY once per (session, corpus) — NINE consumers (the minhash
    * build, band sweep, both jaccard families, containment, the
    * calibrations, winnowing-adjacent audits) each re-ran the corpus
    * tokenize+hash kernel. This is the guide-§8 "fingerprints only"
    * materialization: decode/hash once, every decision pass reads the
    * compact fingerprint table. Corpus-co-scaled ⇒ durable parquet
    * staging (the KN-model / canon_clean class), never pinned
    * registry blocks; strings still never shuffle (the staged column
    * is the 60-bit hash array).
    */
  private def shingleDocHashes(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "shingle_hashes") {
      Tables
        .documents(spark, dir)
        // documents is one small file = one partition; spread the
        // tokenize/hash work (at real scale the scan is already split)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
          col("doc_id"),
          array_distinct(
            graft.functions.VectorExpressions
              .shingleHashes(TextOps.tokens(lower(col("text"))), lit(3))
          ).as("hs")
        )
        .filter(size(col("hs")) > 0)
    }

  private def shinglePosting(spark: SparkSession, dir: String): DataFrame =
    // staged scan → explode: the InferFiltersFromGenerate barrier the
    // old localCheckpoint provided is now the parquet scan itself
    shingleDocHashes(spark, dir).select(col("doc_id"), explode(col("hs")).as("shingle"))

  /** Exact Jaccard over the full (distinct) shingle sets for candidate
    * pairs, computed from counts — |A∩B| via a posting join, |A∪B| =
    * |A|+|B|-|A∩B| — no arrays anywhere. Values are identical to the
    * oracle's list_intersect/list_distinct form because the sets are
    * distinct.
    */
  private def verifyJaccard(
      pairs: DataFrame,
      posting: DataFrame,
      threshold: Double
  ): DataFrame = {
    val counts = posting.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shared = pairs
      .join(posting.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(posting.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn(
        "jaccard",
        col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")).cast("double")
      )
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  val MinhashPerms = 12
  val MinhashBands = 4 // 4 bands x 3 rows
  val MinhashPrime = 2147483647L // 2^31 - 1

  /** Per-doc MinHash signatures as a ZERO-shuffle scalar map — the
    * `minhash_sigs` codegen kernel ([[graft.functions.MinHashKernel]])
    * computes the distinct-shingle 60-bit md5 hashes (the first 15
    * hex digits mod p, p = 2³¹−1) and the 12 permutation mins per
    * row, retiring the posting explode → hash → groupBy(doc)
    * aggregation those signatures used to ride (one exchange per
    * consumer pipeline at 100 TB). Permutation k: (k·1000003+1)·h +
    * (k·999983+12345) mod p — mirrored verbatim in the SQL oracle.
    * Docs with fewer than 3 tokens have no signature (kernel returns
    * null; filtered), exactly as they had no posting rows.
    */
  /** Round 11 (cont.): the per-doc signature table is staged DURABLY
    * once per (session, corpus) — SIX consumers (the LSH pair build,
    * the source rollup, the candidate-volume census, the permutation
    * sweep, the calibration, the band sweep) each re-ran the
    * tokenize+shingle+12-permutation kernel over the corpus. Same
    * guide-§8 "fingerprints only" staging class as
    * [[shingleDocHashes]]: 12 longs + source per doc, corpus-co-scaled
    * ⇒ durable parquet, never pinned registry blocks.
    */
  private def docSigsKernel(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "minhash_sigs")(
      docSigsKernelBuild(spark, dir))

  private[graft] def docSigsKernelBuild(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(lower(col("text")))
    Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        col("source"),
        graft.functions.VectorExpressions.minhashSigs(toks, lit(3)).as("s")
      )
      .filter(col("s").isNotNull)
      .select(
        (col("doc_id") +: col("source") +:
          (0 until MinhashPerms).map(k => col("s").getItem(k).as(s"sig$k"))): _*
      )
  }

  /** MinHash signatures are MERGEABLE summaries: the signature of a
    * union of doc sets is the elementwise MIN of the sets' signatures
    * — so per-shard signatures roll up to a corpus signature without
    * touching the shards' shingles again (the incremental-dedup /
    * cross-shard-similarity pattern: each 100 TB ingest batch
    * publishes 12 longs per partition of interest, and any grouping of
    * batches gets a signature by folding MIN). Demonstrated here as
    * one ROLLUP pass: per-source signatures AND the whole-corpus
    * signature ('ALL' row) from the same aggregate — Spark computes
    * the rollup via partial-aggregate merge, which IS the signature
    * merge, and the oracle re-derives both levels independently.
    * Estimated pairwise source similarity then follows from signature
    * agreement without any pair join; the exact-similarity twin
    * (`verifyJaccard`) stays the precision path.
    */
  def minhashSources(spark: SparkSession, dir: String): DataFrame = {
    // kernel signatures carry source already: the whole query is scan →
    // rollup — no posting, no join
    val sigCols = (0 until MinhashPerms).map(k => min(col(s"sig$k")).as(s"sig$k"))
    docSigsKernel(spark, dir)
      .rollup(col("source"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(
        (coalesce(col("source"), lit("ALL")).as("source") ::
          (0 until MinhashPerms).map(k => col(s"sig$k")).toList): _*
      )
  }

  /** MinHash+LSH near-dup pairs. Signature k = min over shingles of a
    * universal hash of the shingle's md5 (a valid min-hash family).
    * Bands of 3 signature rows form the bucket key; docs sharing any
    * band bucket are candidates; candidates are verified with exact
    * Jaccard >= 0.7.
    *
    * Scale shape: the band self-join carries ONLY (band_idx, hash,
    * doc_id) — shingle arrays never enter a shuffle; they are joined
    * back for the (small) candidate set only. At 100 TB the bucket
    * join keys are uniform, so no skew; the verify join is
    * |candidates|-sized.
    */
  /** The near-dup pair list is THE shared artifact of the whole
    * cluster family (~11 gate queries consume it: clusters, keepers,
    * size hist, dup-by-source, edge stats, degree hist, percolation,
    * k-core, triangles, split leakage, the pair gate itself).
    * Memoized per (session, dir) via [[Artifacts]]: the first consumer
    * materializes it once; the rest read pair-bounded blocks instead
    * of re-running LSH over the corpus — at 100 TB, one corpus pass
    * instead of eleven.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "minhash_pairs")(minhashLshBuild(spark, dir))

  /** ONE definition of the signature banding (band b = comma-joined
    * sig triple), shared by the LSH pair build, the estimator
    * calibration, and the candidate-volume census — the census must
    * price exactly the join the production path runs, so the band
    * key may not drift between them.
    */
  private def minhashBandArray: Column =
    array((0 until MinhashBands).map { b =>
      concat_ws(",", col(s"sig${b * 3}"), col(s"sig${b * 3 + 1}"), col(s"sig${b * 3 + 2}"))
    }: _*)

  /** ONE definition of the SimHash banding (4 × 16-bit substrings),
    * statically unrolled — a higher-order `transform` is interpreted
    * (CodegenFallback) and eligible for InferFiltersFromGenerate's
    * synthesized filter; a literal CreateArray is neither.
    */
  private def simhashBandArray(simhash: Column): Column =
    array((0 until 4).map(b => simhash.substr(b * 16 + 1, 16)): _*)

  private[graft] def minhashLshBuild(spark: SparkSession, dir: String): DataFrame = {
    // The posting feeds 4 consumers (signatures, pair verification x2,
    // per-doc counts); materialize it ONCE. Without this the whole
    // tokenize/window/distinct pipeline re-executes per consumer —
    // measured 5-7x of the query's wall time. localCheckpoint =
    // executor-local blocks + truncated lineage — right for this
    // single-node bench, but the blocks are UNREPLICATED and lineage
    // is gone: on a real cluster an executor loss (or dynamic-
    // allocation decommission) kills the job. The durable cluster
    // equivalents are reliable checkpoint(), persist(DISK_ONLY_2), or
    // an explicit staging write.
    val posting = shinglePosting(spark, dir).localCheckpoint()
    // signatures come from the zero-shuffle kernel map; the posting is
    // only needed for the exact-Jaccard candidate verification
    val withSigs = docSigsKernel(spark, dir)
    val buckets = withSigs
      .select(col("doc_id"), posexplode(minhashBandArray).as(Seq("band_idx", "band_hash")))
    val pairs = buckets
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(
        buckets.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band_hash")
      )
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    verifyJaccard(pairs, posting, threshold = 0.7)
  }

  /** Exact n-gram Jaccard near-dup pairs: inverted-index candidate
    * generation — docs must share >= MinSharedShingles rare shingles
    * (shingles in more than maxDocFreq docs are dropped as
    * stop-shingles: skew guard AND candidate-precision guard — on a
    * small-vocabulary corpus "shares one shingle" is nearly all
    * pairs). Candidates then get exact Jaccard >= 0.5 over the full
    * shingle sets. The shared-count threshold is part of the operator
    * contract (mirrored in the oracle): pairs of tiny documents
    * sharing fewer than 3 shingles are not reported.
    */
  val MinSharedShingles = 3

  /** Stop-shingle cap: absolute floor 50 docs, growing as 0.1% of the
    * corpus — corpus-relative so the pruned-shingle semantics don't
    * silently drift as the corpus scales 100x (an absolute constant
    * would drop ever more shingles). Mirrored in the SQL oracle.
    */
  val MaxDocFreqFloor = 50L
  val MaxDocFreqFrac = 0.001

  /** Memoized like the MinHash pairs (two consumers: the gate query
    * and the blocking-ensemble audit).
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "ngram_pairs")(ngramJaccardBuild(spark, dir))

  /** Round 11: the df-capped rare-shingle CO-OCCURRENCE table
    * (doc_a, doc_b, n_shared_r, nra, nrb) is the identical expensive
    * prefix of BOTH [[ngramJaccard]] and [[containmentPairs]] — only
    * their admission bounds differ. Memoized (pair-bounded: the df
    * cap bounds Σ|posting(shingle)|², the same argument as the other
    * pair graphs), so the rare-posting self-join runs once per
    * (session, corpus) instead of once per family member.
    */
  private def rarePairCounts(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "rare_pair_counts")(rarePairCountsBuild(spark, dir))

  private[graft] def rarePairCountsBuild(spark: SparkSession, dir: String): DataFrame = {
    val posting = shinglePosting(spark, dir).localCheckpoint()
    val nDocs = Tables
      .documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    val rare = posting
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs))
      .filter(
        col("df") <= greatest(
          lit(MaxDocFreqFloor),
          ceil(col("n_docs") * MaxDocFreqFrac).cast("bigint")
        )
      )
      .select(col("shingle"))
    // Pruned posting fans out (pair join x2, rare counts):
    // materialize it — it is strictly smaller than the posting.
    val pruned = posting.join(rare, Seq("shingle")).localCheckpoint()
    val rareCounts = pruned.groupBy(col("doc_id")).agg(count(lit(1)).as("n_rare"))
    pruned
      .select(col("shingle"), col("doc_id").as("doc_a"))
      .join(pruned.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_r"))
      .join(rareCounts.select(col("doc_id").as("doc_a"), col("n_rare").as("nra")), Seq("doc_a"))
      .join(rareCounts.select(col("doc_id").as("doc_b"), col("n_rare").as("nrb")), Seq("doc_b"))
  }

  private[graft] def ngramJaccardBuild(spark: SparkSession, dir: String): DataFrame = {
    // rare-shingle count per doc: jaccard >= 0.5 over the rare-
    // projected sets implies shared >= ceil(min(|A|,|B|)/3), so the
    // threshold is size-relative and lossless for those sets (plus
    // the absolute >= 3 floor for tiny docs)
    val pairs = rarePairCounts(spark, dir)
      .filter(
        col("n_shared_r") >= greatest(
          lit(MinSharedShingles.toLong),
          ceil(least(col("nra"), col("nrb")) / 3.0).cast("bigint")
        )
      )
      .select(col("doc_a"), col("doc_b"))
    verifyJaccard(pairs, shinglePosting(spark, dir).localCheckpoint(), threshold = 0.5)
  }

  /** Directional containment pairs: |A∩B| / min(|A|,|B|) over the
    * 3-gram shingle sets — the metric that catches a small doc pasted
    * inside a big one (a quote, a boilerplate inclusion), which plain
    * Jaccard DILUTES: a 50-shingle doc fully contained in a
    * 5000-shingle doc has containment 1.0 but jaccard ≈ 0.01, far
    * below any dedup threshold. Both metrics are reported so the gap
    * is visible per pair.
    *
    * Candidate screen mirrors ngramJaccard's rare-shingle inverted
    * index (df-capped posting self-join; the cap is corpus-relative),
    * with the admission bound adapted to containment: over the
    * rare-projected sets, containment >= 0.7 forces
    * n_shared >= ceil(0.7 * min) — size-relative and lossless for the
    * projected sets; the full-set verify then recomputes the exact
    * metric from the unpruned posting. Same recall contract as
    * ngramJaccard (pairs sharing only capped stop-shingles are not
    * candidates), mirrored verbatim in the oracle.
    *
    * Scale: identical machinery to ngramJaccard — the pair join
    * carries (shingle, doc_id) on rare shingles only, verify touches
    * candidates only, nothing is all-pairs.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val posting = shinglePosting(spark, dir).localCheckpoint()
    // round 11: the df-capped co-occurrence prefix is the shared
    // [[rarePairCounts]] artifact; only the containment admission
    // bound is applied here
    val pairs = rarePairCounts(spark, dir)
      .filter(
        col("n_shared_r") >= greatest(
          lit(3L),
          ceil(least(col("nra"), col("nrb")) * 0.7).cast("bigint")
        )
      )
      .select(col("doc_a"), col("doc_b"))
    val counts = posting.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    pairs
      .join(posting.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(posting.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn(
        "containment",
        col("n_shared").cast("double") / least(col("na"), col("nb")).cast("double")
      )
      .filter(col("containment") >= 0.7)
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")).as("doc_small"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a")).as("doc_big"),
        least(col("na"), col("nb")).as("n_small"),
        greatest(col("na"), col("nb")).as("n_big"),
        col("n_shared"),
        col("containment"),
        (col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")).cast("double")).as("jaccard")
      )
  }

  /** SimHash-64 fingerprints: sum the ±1 bit vectors of every token
    * occurrence (integer sums — order-independent), sign each of the
    * 64 positions. Output is the bit string; integer-exact on both
    * engines.
    */
  /** Round 11 (cont.): staged DURABLY once per (session, corpus) —
    * FOUR consumers (the fingerprint gate query, the pair build, the
    * candidate-volume census, and via the pair artifact the
    * calibration) each re-ran the kernel scan. Same staging class as
    * [[shingleDocHashes]] / the minhash signature table: one 64-char
    * bit string per doc, corpus-co-scaled ⇒ durable parquet.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "simhash_fp")(
      simhashBuild(spark, dir))

  private[graft] def simhashBuild(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(lower(col("text")))
    // ZERO-shuffle fingerprint: the codegen `simhash64` kernel
    // (SimHashKernel — one md5 per DISTINCT token, count-weighted,
    // bit-identical to the former explode → (doc,token) shuffle →
    // IntVecSumAgg pipeline, whose two exchanges this retires) runs
    // as a pure map in the scan stage. The repartition spreads the
    // single-file testdata scan; at real scale the scan is already
    // split and even that exchange disappears. Token-less docs have
    // no fingerprint (the aggregate form never saw them — same
    // contract).
    Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .filter(size(toks) > 0)
      .select(
        col("doc_id"),
        graft.functions.VectorExpressions.simhash64(toks).as("simhash")
      )
  }

  /** SimHash near-dup pairs: band the 64 bits into 4 x 16-bit chunks
    * (hamming <= 3 guarantees a shared band; we use <= 10 as the
    * verification threshold on verified candidates).
    *
    * Memoized like the MinHash pairs (two consumers: the pair gate
    * query and the estimator calibration) — pair-bounded, so
    * registry-eligible; one corpus fingerprint pass instead of two.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "simhash_pairs")(simhashPairsBuild(spark, dir))

  private[graft] def simhashPairsBuild(spark: SparkSession, dir: String): DataFrame = {
    // The banded self-join consumes fp twice; the staged simhash_fp
    // parquet (see simhash) is the shared materialization.
    val fp = simhash(spark, dir)
    val banded = fp.select(
      col("doc_id"),
      col("simhash"),
      posexplode(simhashBandArray(col("simhash"))).as(Seq("band_idx", "band_bits"))
    )
    val a = banded.select(col("band_idx"), col("band_bits"), col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"))
    val b = banded.select(col("band_idx"), col("band_bits"), col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"))
    a.join(b, Seq("band_idx", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn(
        "hamming",
        graft.functions.VectorExpressions.hammingBits(col("sim_a"), col("sim_b"))
      )
      .filter(col("hamming") <= 10)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Word-n-gram width for benchmark decontamination. Real pipelines
    * use 8-13; the synthetic corpus' 40-word vocabulary makes 8 both
    * realistic and non-vacuous at every test SF.
    */
  val DecontamN = 8

  /** Benchmark decontamination: training documents that share any
    * word-8-gram with the held-out test split (the canonical md5
    * split from TextOps.splitExpr — the "benchmark" a real pipeline
    * would guard). Per contaminated train doc: how many distinct
    * 8-grams leak and how many test docs they touch.
    *
    * Scale shape: n-grams join as 60-bit md5 hashes — raw shingle
    * strings never enter a shuffle (at 8 words/shingle the string is
    * ~8x the doc's own bytes). The test-split posting is a fixed
    * fraction of the corpus; both sides hash-partition on the n-gram
    * hash, which is uniform by construction, so no skew. A 60-bit
    * collision would flag the same spurious pair in any engine (the
    * oracle mirrors the hash), and at 10^9 distinct shingles the
    * expected collision count is ~10^18/2^61 < 1.
    */
  /** (doc_id, split, h): every doc's distinct word-8-gram 60-bit
    * hashes with its train/val/test assignment — the shared input of
    * both decontamination variants.
    */
  private[graft] def decontamPosting(spark: SparkSession, dir: String): DataFrame =
    decontamPostingN(spark, dir, DecontamN)

  private def decontamPostingN(spark: SparkSession, dir: String, n: Int): DataFrame = {
    // shingle_hashes kernel + row-local array_distinct: the corpus
    // distinct() shuffle is gone (split is a per-doc constant, so
    // (doc, split, h) distinctness IS per-row distinctness), and the
    // raw n-word shingle strings never exist as rows at all.
    // Round 11: the production width's per-doc hash sets are staged
    // durably like [[shingleDocHashes]] (three board consumers re-ran
    // the kernel: the decontam report build, the bloom fpp sweep, and
    // the bloom-prefiltered variant); other widths keep the
    // checkpoint barrier.
    def base: DataFrame = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        TextOps.splitExpr(col("doc_id")).as("split"),
        array_distinct(
          graft.functions.VectorExpressions
            .shingleHashes(TextOps.tokens(lower(col("text"))), lit(n))
        ).as("hs")
      )
      .filter(size(col("hs")) > 0)
    val mat =
      if (n == DecontamN)
        Artifacts.stage(spark, dir, "decontam_hashes")(base)
      else base.localCheckpoint()
    mat.select(col("doc_id"), col("split"), explode(col("hs")).as("h"))
  }

  /** Contamination-threshold sensitivity sweep: the decontamination
    * leak rate at n-gram widths 4 / 8 / 13 (Gopher used 8, GPT-3's
    * eval filter 13; 4 is the noise floor) — the curve that picks the
    * width before committing a 100 TB decontamination pass: too short
    * over-flags common phrases, too long misses paraphrased leaks.
    * Per width: train docs carrying any test-split n-gram, distinct
    * leaked n-grams, contamination ppm of the train split (docs with
    * ≥ 1 n-gram — shorter docs have nothing to leak, mirrored in the
    * oracle's len filter).
    *
    * Scale: three kernel-hashed postings (no distinct shuffles, long
    * keys); each leak join is train ⋈ distinct-test-hash — the bloom
    * variant's exact core; the lsh_band_sweep pattern applied to
    * decontamination.
    */
  /** Cross-scheme CANDIDATE-VOLUME audit: for each blocking scheme
    * the engine runs (minhash signature bands, simhash bit bands, the
    * embedding sign-LSH tables), the bucket census that prices its
    * pair join BEFORE running it — Σ occ·(occ−1)/2 over buckets IS
    * the exact number of candidate pairs the equi-join will emit, and
    * max_occ is the straggler bucket AQE's skew split must break up.
    * At 100 TB this is the planning query: run the census (one
    * scan + one aggregate per scheme, no pair work), and only launch
    * the join whose volume the cluster can afford — the band/plane
    * knobs move mass between n_buckets and candidate_pairs, and
    * [[lshBandSweep]] / `lsh_plane_sweep` price the recall side of
    * the same trade.
    *
    * Scale: per scheme a scan-stage key map (the zero-shuffle kernel
    * fingerprints/signatures), ONE shuffle on the bucket key, and a
    * one-row rollup; the schemes union to a 3-row sheet. Pair math is
    * DECIMAL-mediated (occ² wraps int64 past ~3·10⁹ rows per bucket).
    */
  def candidateVolume(spark: SparkSession, dir: String): DataFrame = {
    def volume(scheme: String, keys: DataFrame): DataFrame =
      keys
        .groupBy(col("k1"), col("k2"))
        .agg(count(lit(1)).as("occ"))
        .agg(
          count(lit(1)).as("n_buckets"),
          sum(col("occ")).as("n_rows"),
          max(col("occ")).as("max_occ"),
          sum(expr("CAST(CAST(occ AS DECIMAL(38,0)) * (occ - 1) DIV 2 AS BIGINT)"))
            .as("candidate_pairs")
        )
        .select(
          lit(scheme).as("scheme"),
          col("n_buckets"),
          col("n_rows"),
          col("max_occ"),
          col("candidate_pairs").cast("bigint").as("candidate_pairs")
        )
    val mhKeys = docSigsKernel(spark, dir)
      .select(posexplode(minhashBandArray).as(Seq("k1", "k2")))
      .select(col("k1").cast("long").as("k1"), col("k2"))
    val shKeys = simhash(spark, dir)
      .select(posexplode(simhashBandArray(col("simhash"))).as(Seq("k1", "k2")))
      .select(col("k1").cast("long").as("k1"), col("k2"))
    volume("minhash_band", mhKeys)
      .unionAll(volume("simhash_band", shKeys))
      .unionAll(volume("lsh_table", SimilarityOps.lshBuckets(spark, dir)))
  }

  /** Cross-source duplication provenance matrix: every near-dup pair
    * of the shared `minhash_pairs` ARTIFACT bucketed by the
    * (unordered) source pair of its two ends, with the share of all
    * pairs in ppm. THE partitioning decision this answers at 100 TB:
    * a matrix dominated by the intra-source diagonal licenses
    * PER-SOURCE dedup (each source dedups inside its own partition —
    * no corpus-wide shuffle); heavy off-diagonal mass (syndication,
    * mirrors) forces the global pass. It also names which source
    * pairs actually share content — the mixing-weight double-count
    * warning for sampling.
    *
    * Scale: pair-bounded artifact consumer — two equi-joins against
    * the (doc_id, source) directory projection (the standard dim
    * join), a ≤|sources|² aggregate, DECIMAL-mediated ppm.
    */
  def dupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val pairs = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val total = pairs.agg(count(lit(1)).as("n_total"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(
        least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi")
      )
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .select(
        col("src_lo"),
        col("src_hi"),
        (col("src_lo") === col("src_hi")).as("intra_source"),
        col("n_pairs"),
        expr("CAST(CAST(n_pairs AS DECIMAL(38,0)) * 1000000 DIV n_total AS BIGINT)")
          .as("pair_ppm")
      )
  }

  /** Duplicate-rate growth curve: exact-dup statistics at nested
    * 25/50/75/100% corpus samples (md5 doc-id buckets — the same
    * deterministic sampler as the train/val/test split, so samples
    * are unbiased and NESTED: the 25% corpus is a subset of the 50%).
    * THE scaling readout dedup planning needs: duplicate mass grows
    * superlinearly with corpus size (every new doc can collide with
    * everything before it), so the dup ppm measured on a small sample
    * UNDERSTATES the 100 TB rate — this curve measures the exponent
    * instead of assuming it.
    *
    * Scale: ONE scan, ONE shuffle on the text fingerprint (the same
    * shuffle exact dedup pays); the four sample sizes ride the same
    * aggregate as conditional counts, then a 4-slot `stack` unpivot
    * (never `explode(array(...))` — InferFiltersFromGenerate would
    * re-inline the aggregate). ppm is DECIMAL(38,0)-mediated
    * (docs×10⁶ wraps int64 past 9·10¹² docs), DIV floors like the
    * oracle's HUGEINT `//`.
    */
  val GrowthPcts = Seq(25, 50, 75, 100)

  def dupGrowthCurve(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .documents(spark, dir)
      .select(md5(col("text")).as("fp"), TextOps.splitBucket(col("doc_id")).as("b"))
    val condCounts = GrowthPcts.map(p =>
      sum(when(col("b") < p, 1L).otherwise(0L)).as(s"c$p"))
    val grouped = d.groupBy(col("fp")).agg(condCounts.head, condCounts.tail: _*)
    val slots = GrowthPcts.flatMap(p =>
      Seq(
        sum(col(s"c$p")).as(s"docs$p"),
        sum(when(col(s"c$p") > 0, 1L).otherwise(0L)).as(s"texts$p"),
        sum(when(col(s"c$p") > 1, col(s"c$p") - 1L).otherwise(0L)).as(s"dups$p")
      ))
    val one = grouped.agg(slots.head, slots.tail: _*)
    val stackArgs = GrowthPcts
      .map(p => s"CAST($p AS BIGINT), coalesce(docs$p, CAST(0 AS BIGINT)), " +
        s"coalesce(texts$p, CAST(0 AS BIGINT)), coalesce(dups$p, CAST(0 AS BIGINT))")
      .mkString(", ")
    one
      .select(expr(
        s"stack(${GrowthPcts.size}, $stackArgs) AS (pct, n_docs, n_texts, n_dup_docs)"))
      .withColumn(
        "dup_ppm",
        expr("""CASE WHEN n_docs = 0 THEN CAST(0 AS BIGINT)
               |ELSE CAST(CAST(n_dup_docs AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)
               |END""".stripMargin)
      )
  }

  /** MinHash PERMUTATION-count sweep: the Jaccard-estimator error at
    * 4 / 8 / 12 permutations over the verified near-dup pairs — the
    * signature-width half of the design space whose band half
    * `lsh_band_sweep` prices (bands×rows factorizations consume the
    * permutation budget this sweep sizes). Error per pair is EXACT
    * integer arithmetic: |est − J| = |m·u − i·p| / (p·u) floored to
    * ppm (never floor(double·10⁶) — the 1-ulp boundary seam), so the
    * aggregate is order-free and engine-identical. At 100 TB the
    * permutation count is bytes-per-document in the signature store
    * AND cells-per-row in every band join — this curve says what the
    * marginal permutation actually buys in estimator precision
    * (theory: stderr ~ 1/√p, so 12→24 perms buys only √2).
    *
    * Scale: pair-bounded throughout — the pair list is the session
    * ARTIFACT, inter/union ride the posting join the verifier already
    * pays, signatures attach by two doc-key joins, and ALL sweep
    * widths are conditional sums over ONE pair frame (no re-joins
    * per width) + a stack unpivot.
    */
  val PermSweepPs = Seq(4, 8, 12)

  def minhashPermSweep(spark: SparkSession, dir: String): DataFrame = {
    val posting = shinglePosting(spark, dir).localCheckpoint()
    val pairs = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val counts = posting.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shared = pairs
      .join(posting.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(posting.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sigs = docSigsKernel(spark, dir)
    val sa = sigs.select(
      (col("doc_id").as("doc_a") +: (0 until MinhashPerms).map(k => col(s"sig$k").as(s"a$k"))): _*)
    val sb = sigs.select(
      (col("doc_id").as("doc_b") +: (0 until MinhashPerms).map(k => col(s"sig$k").as(s"b$k"))): _*)
    val perPair = pairs
      .join(shared, Seq("doc_a", "doc_b"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b"))
      .select(
        (col("inter") +: col("uni") +: PermSweepPs.map { p =>
          (0 until p)
            .map(k => when(col(s"a$k") === col(s"b$k"), 1L).otherwise(0L))
            .reduce(_ + _).as(s"m$p")
        }): _*
      )
    val slots = count(lit(1)).as("n_pairs") +: PermSweepPs.map { p =>
      sum(expr(
        s"""CAST(ABS(CAST(m$p AS DECIMAL(38,0)) * uni - CAST(inter AS DECIMAL(38,0)) * $p)
           |     * 1000000 DIV (CAST($p AS DECIMAL(38,0)) * uni) AS BIGINT)""".stripMargin
      )).as(s"e$p")
    }
    val one = perPair.agg(slots.head, slots.tail: _*)
    val stackArgs = PermSweepPs.map { p =>
      s"CAST($p AS BIGINT), n_pairs, CAST(e$p AS BIGINT), " +
        s"CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE CAST(CAST(e$p AS DECIMAL(38,0)) DIV n_pairs AS BIGINT) END"
    }.mkString(", ")
    one.select(expr(
      s"stack(${PermSweepPs.size}, $stackArgs) " +
        "AS (n_perms, n_pairs, sum_err_ppm, mean_err_ppm)"))
  }

  /** Bloom-prefilter SIZING curve for the decontamination pass: a
    * deterministic bloom (k=[[BloomHashes]] md5-derived bit positions
    * — the oracle-able twin of `decontaminateBloom`'s production
    * `bloomFilter`) built over the benchmark's distinct shingle
    * hashes at three bit-array sizes, measured by how many TRAIN
    * shingle hashes survive it. n_pass − n_true_hits is the false-
    * positive mass the exact join must still discard; its ppm among
    * true negatives is the empirical fpp. THE sizing decision at
    * 100 TB: the bloom rides EVERY map task of the corpus scan, so
    * bits-per-benchmark-shingle buys shuffle reduction at broadcast
    * cost — this curve prices both sides instead of quoting the
    * 1/2^k asymptote.
    *
    * Scale: train/test distinct-hash sets are computed once from the
    * shared posting (checkpointed); per size, bit membership is an
    * equi-semi-join on the bit position (3 rows per hash, statically
    * unrolled positions — no HOF) and a per-hash count==k filter.
    * Bloom guarantee asserted in the spec: n_pass ≥ n_true_hits
    * (no false negatives), false ppm monotone non-increasing in m.
    */
  val BloomSweepBits = Seq(4096, 16384, 65536)
  val BloomHashes = 3

  def bloomFppSweep(spark: SparkSession, dir: String): DataFrame = {
    // Round 11: the raw 60-bit position hashes are CONFIG-INDEPENDENT
    // (only the final `% m` differs per sweep point) — compute the
    // BloomHashes md5s per distinct hash ONCE and let each config take
    // its modulo, instead of re-hashing both sides per configuration;
    // the per-config membership joins then run as ONE (m, bit)-tagged
    // pass, and the config-independent n_train / n_true counts are
    // hoisted out of the loop (they were recomputed per m). Counts per
    // config are unchanged: the same explode rows, the same
    // all-positions-match predicate.
    //
    // Round 11 (cont.): the two per-split distinct passes collapse to
    // ONE per-hash membership aggregate (in_train / in_test flags), so
    // the position-hash expansion also runs ONCE for both sides (the k
    // bit positions depend only on h) and the n_train / n_true totals
    // fold over the same table instead of a distinct + semi-join pair.
    // Five sequential checkpoint jobs become two; every set, position
    // and predicate is unchanged row-for-row.
    def posRaw(c: Column): Column =
      array((0 until BloomHashes).map(i =>
        conv(substring(md5(concat(c.cast("string"), lit(s"_$i"))), 1, 15), 16, 10)
          .cast("long")): _*)
    val hset = decontamPosting(spark, dir)
      .filter(col("split").isin("train", "test"))
      .groupBy(col("h"))
      .agg(
        max(when(col("split") === "train", 1L).otherwise(0L)).as("in_train"),
        max(when(col("split") === "test", 1L).otherwise(0L)).as("in_test"))
      .localCheckpoint()
    val exp = hset
      .select(col("h"), col("in_train"), col("in_test"),
        explode(posRaw(col("h"))).as("raw"))
      .localCheckpoint()
    val bits = BloomSweepBits
      .map(m => exp.filter(col("in_test") === 1L)
        .select(lit(m.toLong).as("m"), (col("raw") % m).as("bit")))
      .reduce(_ unionAll _)
      .distinct()
    val pass = BloomSweepBits
      .map(m => exp.filter(col("in_train") === 1L)
        .select(lit(m.toLong).as("m"), col("h"), (col("raw") % m).as("bit")))
      .reduce(_ unionAll _)
      .join(bits, Seq("m", "bit"), "leftsemi")
      .groupBy(col("m"), col("h"))
      .agg(count(lit(1)).as("nmatch"))
      .filter(col("nmatch") === BloomHashes)
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_pass"))
    val totals = hset.agg(
      sum(col("in_train")).as("n_train"),
      sum(col("in_train") * col("in_test")).as("n_true"))
    BloomSweepBits
      .map(m => spark.range(1).select(lit(m.toLong).as("m")))
      .reduce(_ unionAll _)
      .join(pass, Seq("m"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("m").as("m_bits"),
        col("n_train").as("n_train_hashes"),
        col("n_true").as("n_true_hits"),
        coalesce(col("n_pass"), lit(0L)).as("n_pass"),
        expr(
          """CASE WHEN n_train - n_true = 0 THEN CAST(0 AS BIGINT)
            |ELSE CAST(CAST(COALESCE(n_pass, 0) - n_true AS DECIMAL(38,0)) * 1000000
            |          DIV (n_train - n_true) AS BIGINT) END""".stripMargin
        ).as("false_pos_ppm")
      )
  }

  val DecontamSweepNs = Seq(4, 8, 13)

  def decontamNgramSweep(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan feeds all three widths: each row carries its
    // 4/8/13-gram hash arrays side by side (three kernel calls over
    // one scan's rows), checkpointed once — at 100 TB this is one
    // corpus read instead of three, and the usual pre-explode
    // InferFiltersFromGenerate barrier.
    val toks = TextOps.tokens(lower(col("text")))
    val base = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        (col("doc_id") +: TextOps.splitExpr(col("doc_id")).as("split") +:
          DecontamSweepNs.map { n =>
            array_distinct(
              graft.functions.VectorExpressions.shingleHashes(toks, lit(n))
            ).as(s"hs$n")
          }): _*
      )
      .localCheckpoint()
    // Round 11: the three widths ran as three sequential
    // join+checkpoint+triple-count jobs; they now ride ONE
    // width-tagged pass (one train⋈test membership join on (n, h), one
    // leak checkpoint, grouped counts) — same per-width counts, fewer
    // barriers, and the per-width spine keeps the row-always contract
    // of the old ungrouped aggregates.
    val posting = DecontamSweepNs
      .map(n =>
        base
          .filter(size(col(s"hs$n")) > 0)
          .select(
            lit(n.toLong).as("n"),
            col("doc_id"),
            col("split"),
            explode(col(s"hs$n")).as("h")))
      .reduce(_ unionAll _)
    val train = posting
      .filter(col("split") === "train")
      .select(col("n"), col("doc_id").as("train_doc"), col("h"))
    val leaks = train
      .join(
        posting.filter(col("split") === "test").select(col("n"), col("h")).distinct(),
        Seq("n", "h"))
      .localCheckpoint() // bounded by contamination; consumed twice
    val nTrain = train
      .select(col("n"), col("train_doc")).distinct()
      .groupBy(col("n")).agg(count(lit(1)).as("n_train_docs"))
    val cDocs = leaks
      .select(col("n"), col("train_doc")).distinct()
      .groupBy(col("n")).agg(count(lit(1)).as("n_contaminated_docs"))
    val cGrams = leaks
      .select(col("n"), col("h")).distinct()
      .groupBy(col("n")).agg(count(lit(1)).as("n_leaked_ngrams"))
    DecontamSweepNs
      .map(n => spark.range(1).select(lit(n.toLong).as("n")))
      .reduce(_ unionAll _)
      .join(nTrain, Seq("n"), "left")
      .join(cDocs, Seq("n"), "left")
      .join(cGrams, Seq("n"), "left")
      .select(
        col("n"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"),
        coalesce(col("n_leaked_ngrams"), lit(0L)).as("n_leaked_ngrams"),
        expr(
          "CAST(CAST(COALESCE(n_contaminated_docs, 0) AS DECIMAL(38,0)) * 1000000 " +
            "DIV COALESCE(n_train_docs, 0) AS BIGINT)").as("contaminated_ppm")
      )
  }

  /** Leak report: contaminated train docs grouped from the train⋈test
    * shingle-hash join (shared by both decontamination variants — the
    * bloom variant feeds a prefiltered train side through the SAME
    * exact join, so results are identical by construction).
    */
  private def leakReport(train: DataFrame, test: DataFrame): DataFrame =
    train
      .join(test, Seq("h"))
      .groupBy(col("train_doc"))
      .agg(
        countDistinct(col("h")).as("n_leaked_ngrams"),
        countDistinct(col("test_doc")).as("n_test_docs"),
        min(col("test_doc")).as("first_test_doc")
      )

  /** Memoized like the pair graphs ([[minhashLsh]]): the leak report
    * is EVAL-bounded (one row per contaminated train doc), and two
    * consumers read it — the gate query and the filter funnel's final
    * stage — so the corpus-sized posting build runs once per
    * (session, dir), not once per consumer. The posting itself stays
    * un-memoized by the registry contract (corpus-sized).
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "decontam_report")(decontaminateBuild(spark, dir))

  private[graft] def decontaminateBuild(spark: SparkSession, dir: String): DataFrame = {
    val posting = decontamPosting(spark, dir)
    val train = posting
      .filter(col("split") === "train")
      .select(col("doc_id").as("train_doc"), col("h"))
    val test = posting
      .filter(col("split") === "test")
      .select(col("doc_id").as("test_doc"), col("h"))
    leakReport(train, test)
  }

  /** Bloom-prefiltered decontamination — the semi-join-reduction form
    * of `decontaminate`, same answer by construction. The test split
    * stands in for the external benchmark suite, which at production
    * scale is BOUNDED (thousands of eval docs — a fixed few-MB bloom)
    * while the train side is the 100 TB corpus: a bloom over the
    * benchmark's shingle hashes drops ~99% of train shingles at the
    * map stage (fpp 1%), so the shuffle that feeds the exact join
    * carries the contaminated sliver instead of the corpus. False
    * positives survive the prefilter but die in the exact join; blooms
    * have no false negatives — so this is hash-identical to the
    * unfiltered form and shares its oracle. The posting is
    * materialized once and feeds the bloom build + both join sides.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val posting = decontamPosting(spark, dir).localCheckpoint()
    val train = posting
      .filter(col("split") === "train")
      .select(col("doc_id").as("train_doc"), col("h"))
    val test = posting
      .filter(col("split") === "test")
      .select(col("doc_id").as("test_doc"), col("h"))
    // distributed build (treeAggregate); only the final bits reach the
    // driver. Sizing: distinct benchmark shingles, known exactly here;
    // a production pipeline would size from the benchmark's manifest.
    val nTest = test.count()
    val bloom = test.stat.bloomFilter("h", math.max(nTest, 1L), 0.01)
    val prefiltered = train.filter(
      graft.functions.BloomBridge
        .mightContain(lit(graft.functions.BloomBridge.serialized(bloom)), col("h"))
    )
    leakReport(prefiltered, test)
  }

  val SpanTokens = 8
  val SpanKeepBelow = 0.5

  /** Exact substring-block dedup (the RefinedWeb/C4 "remove documents
    * made of already-seen spans" shape): each doc is cut into
    * NON-overlapping 8-token blocks on a fixed grid, every block is
    * fingerprinted, and a doc's duplication ratio = fraction of its
    * blocks whose fingerprint also appears in some OTHER doc. Unlike
    * minhashLsh (whole-doc similarity) this catches documents
    * assembled from copied pieces, at exact-match precision.
    *
    * Scale shape: blocks reduce the corpus ~1:1 in bytes but join as
    * 60-bit hashes, so the only full-corpus shuffle carries
    * (doc_id, 8-byte fp) rows; the doc-frequency aggregate is
    * map-side-combined on uniform md5 keys (no skew), and the
    * per-doc rollup rides one hash(doc_id) exchange. The grid (vs
    * sliding shingles) keeps the blowup at N/8 rows instead of N.
    *
    * On this synthetic corpus block-sharing only occurs between
    * whole-doc duplicates (the scaladoc'd probe found every dup_ratio
    * at 0.0 or 1.0) — partial-copy sensitivity is exercised by the
    * unit spec instead, which plants a half-copied document.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val blocks = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        posexplode(
          graft.functions.VectorExpressions
            .wordNgrams(TextOps.tokens(lower(col("text"))), lit(SpanTokens))
        ).as(Seq("pos", "block"))
      )
      // sliding n-grams restricted to positions 0, 8, 16, … = the
      // non-overlapping grid (word_ngrams only emits full windows, so
      // a trailing partial block never appears)
      .filter(col("pos") % SpanTokens === 0)
      .select(
        col("doc_id"),
        conv(substring(md5(col("block")), 1, 15), 16, 10).cast("long").as("fp")
      )
      .localCheckpoint() // feeds both the doc-frequency agg and the per-doc rollup
    val docFreq = blocks
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val perDoc = blocks
      .join(docFreq, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_blocks")
      )
    // left join from documents: docs shorter than one block have no
    // blocks at all and must still report (0, 0, keep)
    Tables
      .documents(spark, dir)
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_dup_blocks"), lit(0L)).as("n_dup_blocks"),
        when(col("n_blocks").isNull || col("n_blocks") === 0, lit(0.0))
          .otherwise(col("n_dup_blocks").cast("double") / col("n_blocks").cast("double"))
          .as("dup_ratio")
      )
      .withColumn("keep", col("dup_ratio") < SpanKeepBelow)
  }

  /** Incremental ingestion dedup: the daily-batch shape. "Yesterday's
    * corpus" is the even doc_ids (a deterministic stand-in for the
    * previous snapshot's fingerprint store); the new batch is the odd
    * ids. Every new doc is classified dup_of_old (fingerprint already
    * in the store), dup_in_batch (fresh fp shared within the batch —
    * min doc_id is the keeper), or fresh. The fingerprint is the
    * BAG-OF-WORDS key — md5 over the sorted distinct token set — which
    * catches reordering/template duplicates that exact text hashing
    * misses (and gives this corpus real collisions).
    *
    * Scale: at 100 TB the old-fp probe is a bloom prefilter + exact
    * semi join (the decontaminate_bloom shape) against the fingerprint
    * store, NOT a scan of yesterday's corpus; the within-batch window
    * is bounded by batch size. Here both stages are exact: one fp
    * equi join + one fp window, payload = (fp, doc_id, lang) only.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        col("lang"),
        md5(concat_ws(" ", array_sort(array_distinct(TextOps.tokens(lower(col("text")))))))
          .as("fp")
      )
    val oldFps = docs
      .filter(col("doc_id") % 2 === 0)
      .select(col("fp"))
      .distinct()
      .withColumn("in_old", lit(1L))
    val w = Window.partitionBy(col("fp"))
    docs
      .filter(col("doc_id") % 2 === 1)
      .join(oldFps, Seq("fp"), "left")
      .withColumn("keeper", min(col("doc_id")).over(w))
      .withColumn(
        "status",
        when(col("in_old").isNotNull, "dup_of_old")
          .when(col("doc_id") =!= col("keeper"), "dup_in_batch")
          .otherwise("fresh")
      )
      .groupBy(col("lang"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo): sort the corpus
    * on a content block key (first 16 letters of the letter-only
    * normalized text), take each doc's next-1 and next-2 neighbors in
    * that order as candidate pairs, verify with exact 3-gram Jaccard
    * ≥ 0.5 — the third classic blocking family on the board next to
    * LSH (minhash/simhash) and inverted-index (ngram/containment)
    * candidates. Near-identical texts share a normalized prefix, so
    * they land adjacent; candidates are O(w·N), never N².
    *
    * Scale: the sort IS the method's defining cost — paid here as the
    * range-partitioned rank composition (RankOps.withGlobalRank: the
    * repartitionByRange shuffle + parallel per-range windows), never a
    * single-task global Window; neighbor-of-rank is then two equi
    * self-joins on the rank key (the cross-partition boundary rows
    * resolve through the join, no overlap plumbing). Verification
    * reuses the count-based posting join (no shingle arrays shuffle).
    */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "snm_pairs")(sortedNeighborhoodBuild(spark, dir))

  private[graft] def sortedNeighborhoodBuild(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^\\p{L}]+", ""), 1, 16).as("bkey")
      )
    val ranked = RankOps
      .withGlobalRank(keyed, "_r", Seq(col("bkey").asc, col("doc_id").asc))
      .localCheckpoint()
    val nbrs = ranked
      .join(ranked.select((col("_r") - 1).as("_r"), col("doc_id").as("nbr1")), Seq("_r"), "left")
      .join(ranked.select((col("_r") - 2).as("_r"), col("doc_id").as("nbr2")), Seq("_r"), "left")
      .localCheckpoint()
    val cand = nbrs
      .filter(col("nbr1").isNotNull)
      .select(least(col("doc_id"), col("nbr1")).as("doc_a"),
        greatest(col("doc_id"), col("nbr1")).as("doc_b"))
      .unionAll(
        nbrs
          .filter(col("nbr2").isNotNull)
          .select(least(col("doc_id"), col("nbr2")).as("doc_a"),
            greatest(col("doc_id"), col("nbr2")).as("doc_b"))
      )
    verifyJaccard(cand, shinglePosting(spark, dir), 0.5)
  }

  /** LSH band-configuration sweep: the SAME 12 MinHash signatures
    * bucketed three ways — 2 bands × 6 rows, 4 × 3, 6 × 2 — with
    * candidate volume, exact-verified (J ≥ 0.5) survivors and
    * precision ppm per configuration. This is the S-curve tuning
    * table operators read before fixing a config: more bands ⇒ more
    * candidates and recall, collapsing precision; the report measures
    * that tradeoff on the corpus itself rather than assuming the
    * theoretical (1−(1−s^r)^b) curve.
    *
    * Scale: signatures are computed ONCE (12 MIN aggregates) and
    * re-bucketed per config — re-banding shuffles only (band, hash,
    * id) tuples; each verify touches its candidate set only. The
    * degenerate no-candidates case reports 0 ppm by contract.
    */
  /** MinHash estimator calibration: for every banded candidate pair
    * with exact Jaccard ≥ 0.5, the signature-agreement estimate
    * (matching mins / 12) next to the true Jaccard and the absolute
    * error — the measured answer to "how far off are 12
    * permutations?" that sizes the signature width (stddev ≈
    * √(J(1−J)/k)). n_match is an exact integer; est and abs_err are
    * IEEE values derived from exact integers.
    *
    * Scale: reuses the one-pass signatures and the banded candidate
    * join; the calibration join carries 12 longs per side for the
    * candidate set only.
    */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val posting = shinglePosting(spark, dir).localCheckpoint()
    // staged scan (minhash_sigs artifact): the parquet read is the
    // multi-consumer barrier the old localCheckpoint provided
    val sigs = docSigsKernel(spark, dir)
    val buckets = sigs.select(
      col("doc_id"),
      posexplode(minhashBandArray).as(Seq("band_idx", "band_hash"))
    )
    val pairs = buckets
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(
        buckets.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band_hash")
      )
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val verified = verifyJaccard(pairs, posting, 0.5)
    val sa = sigs.select(
      (col("doc_id").as("doc_a") +: (0 until MinhashPerms).map(k => col(s"sig$k").as(s"a$k"))): _*
    )
    val sb = sigs.select(
      (col("doc_id").as("doc_b") +: (0 until MinhashPerms).map(k => col(s"sig$k").as(s"b$k"))): _*
    )
    val nMatch = (0 until MinhashPerms)
      .map(k => when(col(s"a$k") === col(s"b$k"), 1L).otherwise(0L))
      .reduce(_ + _)
    verified
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        nMatch.as("n_match"),
        (nMatch.cast("double") / lit(12.0)).as("est"),
        col("jaccard"),
        abs(nMatch.cast("double") / lit(12.0) - col("jaccard")).as("abs_err")
      )
  }

  def lshBandSweep(spark: SparkSession, dir: String): DataFrame = {
    val posting = shinglePosting(spark, dir).localCheckpoint()
    val sigs = docSigsKernel(spark, dir) // staged scan — see minhash_sigs
    val configs = Seq((2, 6), (4, 3), (6, 2))
    // Round 11: ONE tagged band explode + ONE self-join shared by all
    // three configurations (the per-config loop ran three sequential
    // join+distinct+checkpoint jobs over the same signatures), and the
    // expensive posting verify runs ONCE over the distinct pair union
    // — a pair surviving several configs verifies once, with each
    // config's verified count recovered by a pair-bounded semi-join.
    // Same candidates, same verify predicate, same counts per config.
    val bandStructs = configs.flatMap { case (nb, rpb) =>
      (0 until nb).map { b =>
        struct(
          lit(s"${nb}x$rpb").as("config"),
          lit(b).as("band_idx"),
          concat_ws(",", (0 until rpb).map(r => col(s"sig${b * rpb + r}")): _*)
            .as("band_hash"))
      }
    }
    val buckets = sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(
        col("doc_id"),
        col("bk.config").as("config"),
        col("bk.band_idx").as("band_idx"),
        col("bk.band_hash").as("band_hash"))
    val cand = buckets
      .select(col("config"), col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(
        buckets.select(
          col("config"), col("band_idx"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("config", "band_idx", "band_hash")
      )
      .filter(col("doc_a") < col("doc_b"))
      .select(col("config"), col("doc_a"), col("doc_b"))
      .distinct()
      .localCheckpoint()
    val verified = verifyJaccard(
      cand.select(col("doc_a"), col("doc_b")).distinct(), posting, 0.5)
      .select(col("doc_a"), col("doc_b"))
    val nCand = cand.groupBy(col("config")).agg(count(lit(1)).as("n_candidates"))
    val nVer = cand
      .join(verified, Seq("doc_a", "doc_b"), "leftsemi")
      .groupBy(col("config"))
      .agg(count(lit(1)).as("n_verified"))
    // config spine so a zero-candidate configuration still reports its
    // row (the old per-config ungrouped agg always yielded one row)
    configs
      .map { case (nb, rpb) =>
        spark
          .range(1)
          .select(
            lit(s"${nb}x$rpb").as("config"),
            lit(nb.toLong).as("n_bands"),
            lit(rpb.toLong).as("rows_per_band"))
      }
      .reduce(_ unionAll _)
      .join(nCand, Seq("config"), "left")
      .join(nVer, Seq("config"), "left")
      .select(
        col("config"),
        col("n_bands"),
        col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        when(coalesce(col("n_candidates"), lit(0L)) === 0, 0L)
          .otherwise(expr(
            "CAST(CAST(COALESCE(n_verified, 0) AS DECIMAL(38,0)) * 1000000 DIV (n_candidates) AS BIGINT)"))
          .as("precision_ppm")
      )
  }

  /** Winnowing (the MOSS local fingerprinting scheme, Schleimer/
    * Wilkerson/Aiken SIGMOD'03): shingle width, window width, the
    * hot-fingerprint posting cap, and the pair-report size.
    */
  val WinnowK = 4
  val WinnowW = 5
  val WinnowPairCap = 50L
  val WinnowTopPairs = 25

  /** Per-doc winnowed fingerprint vector: WinnowK-token shingle
    * hashes, then the distinct minima of every WinnowW-wide window —
    * selects ~2/(w+1) of the shingle hashes yet GUARANTEES any shared
    * run of K+W-1 tokens contributes at least one common fingerprint
    * (winnowing's detection guarantee; MinHash only detects in
    * probability). 60-bit md5 prefixes keep every value an exact
    * BIGINT in both engines.
    */
  private def winnowed(spark: SparkSession, dir: String): DataFrame = {
    // codegen shingle_hashes kernel — the old transform() lambda ran
    // interpreted (one boxed md5 expression eval per shingle)
    val hs = graft.functions.VectorExpressions
      .shingleHashes(TextOps.tokens(lower(col("text"))), lit(WinnowK))
    Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), hs.as("hs"))
      .select(
        col("doc_id"),
        size(col("hs")).cast("long").as("n_shingles"),
        // codegen O(n) monotonic-deque sliding minima; the old
        // transform+slice HOF was interpreted O(n·w) and is what the
        // optimizer inlined into the inferred Generate filter
        array_distinct(
          graft.functions.VectorExpressions.slidingMin(col("hs"), lit(WinnowW))
        ).as("fps")
      )
  }

  /** Winnowing fingerprint report per document: shingle count, the
    * (much smaller) selected-fingerprint count, and the fingerprint
    * range. The per-doc compression ratio is the storage story — the
    * index a plagiarism/near-dup service keeps is |fps|, not
    * |shingles|. Scale: pure per-row array arithmetic, no shuffle at
    * all; the min/max coalesce keeps the output columns BIGINT even
    * for sub-window docs (NULL-bearing int columns decay to float in
    * pandas — the HUGEINT-drift lesson).
    */
  def winnowingFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowed(spark, dir)
      .select(
        col("doc_id"),
        col("n_shingles"),
        size(col("fps")).cast("long").as("n_fps"),
        coalesce(array_min(col("fps")), lit(-1L)).as("min_fp"),
        coalesce(array_max(col("fps")), lit(-1L)).as("max_fp")
      )

  /** Near-dup candidate pairs via shared winnowed fingerprints: the
    * inverted-index join over the SELECTED fingerprints only, with
    * the usual hot-posting cap (a fingerprint shared by > cap docs is
    * boilerplate, not evidence), top pairs by shared-fingerprint
    * count with a full deterministic tie-break. The winnowing twin of
    * minhash_lsh_pairs: ~1/3 the posting volume at the same shingle
    * width, and any K+W-1-token shared run is guaranteed to surface.
    *
    * Scale: posting volume is Σ|fps| (winnowed, not all shingles);
    * the self-join is bucketed by fingerprint with the cap bounding
    * every bucket, so candidate volume is Σ min(nd, cap)² — the same
    * no-quadratic-bucket contract as the shingle-posting joins.
    */
  def winnowingPairs(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the winnow BEFORE exploding. Catalyst's
    // InferFiltersFromGenerate synthesizes `size(fps) > 0 AND
    // isnotnull(fps)` under the Generate; against the live expression
    // tree that filter inlines the whole winnow, and the lambda's
    // slice(hs, ...) outer reference then re-evaluates the md5 shingle
    // transform PER WINDOW — ~50x the hashing work, measured 35 s of
    // this query's 36 s at sf0.1. Checkpointing first makes the
    // inferred filter a cheap column test (0.5 s total).
    val posts = winnowed(spark, dir)
      .localCheckpoint()
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .localCheckpoint() // feeds the frequency cap AND both join sides
    val alive = posts
      .join(
        posts
          .groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2 && col("nd") <= WinnowPairCap),
        Seq("fp")
      )
    val pairs = alive
      .select(col("fp"), col("doc_id").as("doc_a"))
      .join(alive.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      // pair-report cap as orderBy+limit: TakeOrderedAndProject
      // (per-partition heaps), never a pair-graph-sized single-task
      // window (the pre-fixpoint sweep missed this one)
      .orderBy(col("n_shared").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(WinnowTopPairs)
      .select(col("doc_a"), col("doc_b"), col("n_shared"))
  }

  /** Exact-substring dedup as a REWRITE — the action spanDedup only
    * reports: every 8-token grid block whose content appears in more
    * than one document is dropped from ALL documents, and the cleaned
    * corpus (kept blocks in order + the sub-block remainder tokens,
    * single-space joined) is emitted per doc. Dropping every
    * occurrence (not "all but the first") is deliberate: it is
    * order-free, so the output is deterministic under any partitioning
    * — "keep the first" needs a global document order that does not
    * exist at 100 TB. The output is a TOKENIZED rewrite (original
    * token case, single spaces); byte-level whitespace is not
    * preserved — the shape every substring-dedup pipeline (C4,
    * RefinedWeb) actually ships.
    *
    * Scale: the block grid, fingerprinting, and doc-frequency join
    * are spanDedup's bounded machinery; the rebuild is one per-doc
    * group of its own kept blocks (sort_array over ≤ n_tokens/8
    * structs per doc, no window over the corpus).
    */
  /** Round 11: staged DURABLY once per (session, corpus) — three
    * board consumers (the rewrite readout, the span family audit, the
    * dedup-savings sheet) each re-ran the grid scrub. Same staging
    * class as the cleaned corpus.
    */
  def spanRewrite(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "span_rewrite")(
      spanRewriteBuild(spark, dir))

  private[graft] def spanRewriteBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
      .localCheckpoint() // feeds blocks AND the remainder rebuild
    val blocks = docs
      .select(
        col("doc_id"),
        posexplode(
          graft.functions.VectorExpressions
            .wordNgrams(TextOps.tokens(col("text")), lit(SpanTokens))
        ).as(Seq("pos", "block"))
      )
      .filter(col("pos") % SpanTokens === 0)
      .select(
        col("doc_id"),
        (col("pos") / SpanTokens).cast("long").as("k"),
        col("block"),
        conv(substring(md5(col("block")), 1, 15), 16, 10).cast("long").as("fp")
      )
      .localCheckpoint() // feeds the doc-frequency agg AND the rebuild
    val nd = blocks.groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("nd"))
    val kept = blocks
      .join(nd, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dropped_blocks"),
        array_join(
          transform(
            array_sort(
              collect_list(when(col("nd") === 1, struct(col("k"), col("block"))))
            ),
            s => s.getField("block")
          ),
          " "
        ).as("kept_text")
      )
    docs
      .select(
        col("doc_id"),
        TextOps.tokens(col("text")).as("toks")
      )
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        // integer DIV, not Column `/` (double): the remainder starts
        // right after the last FULL 8-token block
        expr(
          s"""array_join(slice(toks,
             |  CAST(size(toks) DIV $SpanTokens * $SpanTokens + 1 AS INT),
             |  $SpanTokens), ' ')""".stripMargin
        ).as("remainder")
      )
      .join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_dropped_blocks"), lit(0L)).as("n_dropped_blocks"),
        trim(
          concat_ws(" ", coalesce(col("kept_text"), lit("")), col("remainder"))
        ).as("clean_text")
      )
      .withColumn(
        "clean_tokens",
        col("n_tokens") - col("n_dropped_blocks") * SpanTokens
      )
  }

  /** Exact-substring dedup at ARBITRARY alignment — the rewrite the
    * fixed 8-token grid ([[spanRewrite]]) cannot express: a token is
    * dropped iff it is covered by ANY [[SpanTokens]]-token window
    * whose content appears in ≥ 2 documents. Detection bound: every
    * duplicated run of ≥ SpanTokens tokens is caught and removed IN
    * FULL at any offset (a shared run of length L ≥ K contains
    * L−K+1 shared K-windows whose union covers all L tokens) —
    * strictly stronger than the winnowing family's K+W−1 guarantee,
    * and the semantics of suffix-array substring dedup at K-token
    * granularity. The grid, by contrast, only sees runs that happen
    * to align with its 8-token block boundaries: a copy shifted by
    * one token is invisible to it (the planted-copy spec proves the
    * separation).
    *
    * Scale: posting volume is n_tokens 60-bit HASHES (the
    * `shingle_hashes` codegen kernel; 8× the grid's volume, the same
    * stream the winnowing chain hashes before selection) — shingle
    * STRINGS never shuffle. The doc-frequency aggregate is map-side
    * combined; dup window starts come back as one pair-bounded join;
    * the rebuild is a row-local lambda over each doc's own (bounded)
    * token array — no window over the corpus, no second text scan.
    */
  /** Round 11: staged DURABLY like [[spanRewrite]] (two consumers:
    * the rewrite readout and the span family audit).
    */
  def spanRewriteAnyAlign(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "span_rewrite_anyalign")(
      spanRewriteAnyAlignBuild(spark, dir))

  private[graft] def spanRewriteAnyAlignBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        TextOps.tokens(col("text")).as("toks")
      )
      .withColumn(
        "hs",
        graft.functions.VectorExpressions
          .shingleHashes(col("toks"), lit(SpanTokens))
      )
      // materialize BEFORE exploding: InferFiltersFromGenerate would
      // otherwise inline the kernel under its synthesized size()>0
      // filter (the measured-50x trap) — and the frame feeds both the
      // posting explode and the rebuild
      .localCheckpoint()
    val posts = docs.select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val dupStarts = posts
      .join(
        posts
          .groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2),
        Seq("h")
      )
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("dup_starts"))
    docs
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn(
        "kept",
        expr(
          s"""filter(transform(toks, (t, i) -> struct(t AS t, i AS i)),
             |  s -> dup_starts IS NULL OR
             |       NOT exists(dup_starts,
             |                  p -> p <= s.i AND s.i <= p + ${SpanTokens - 1}))""".stripMargin
        )
      )
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(col("dup_starts").isNull, 0L)
          .otherwise(size(col("dup_starts")).cast("long")).as("n_dup_windows"),
        size(col("kept")).cast("long").as("clean_tokens"),
        expr("array_join(transform(kept, s -> s.t), ' ')").as("clean_text")
      )
  }

  /** Grid-vs-any-alignment substring-dedup AUDIT per source: token
    * mass each rewrite removes and the floor-div ppm rates — the
    * price sheet for the grid's blind spot. The grid pass costs 1/8
    * the posting volume but only sees block-aligned copies; this
    * query measures what that discount forfeits ON THIS CORPUS
    * (any_ppm − grid_ppm = the duplicated mass a grid-only pipeline
    * ships into training). Per-doc coverage is a superset by
    * construction (spec-asserted), so any_dropped ≥ grid_dropped
    * holds row-wise, and the per-source rates order the decision:
    * a near-zero gap licenses the cheap grid at 100 TB; a fat gap
    * pays for the full posting stream.
    *
    * Scale: the two rewrites' own bounded machinery plus two
    * doc-keyed joins and a #sources aggregate — nothing new moves.
    */
  def spanFamilyAudit(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val grid = spanRewrite(spark, dir)
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("n_dropped_blocks") * SpanTokens).as("grid_dropped"))
    val any = spanRewriteAnyAlign(spark, dir)
      .select(col("doc_id"), (col("n_tokens") - col("clean_tokens")).as("any_dropped"))
    src
      .join(grid, Seq("doc_id"))
      .join(any, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("grid_dropped")).as("grid_dropped"),
        sum(col("any_dropped")).as("any_dropped")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        col("grid_dropped"),
        col("any_dropped"),
        expr("CAST(CAST(grid_dropped AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)")
          .as("grid_ppm"),
        expr("CAST(CAST(any_dropped AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)")
          .as("any_ppm")
      )
  }

  /** Content-defined chunking (token-level FastCDC/gear shape) and
    * the duplicate-chunk rate — the STORAGE-dedup primitive: a chunk
    * boundary falls after every token whose 60-bit hash ≡ 0 (mod
    * [[CdcBoundaryMod]]), so boundaries are content-anchored and an
    * insertion only reshapes the chunks it touches (fixed-width
    * chunking would shift every later chunk — the whole point of
    * CDC). Per source: chunk count, token total, mean chunk length in
    * floor-div ppm, the largest chunk, and the ppm of chunks whose
    * exact content (space-joined tokens, md5) appears more than once
    * corpus-wide — what a dedup store would actually save.
    *
    * Scale: ONE shuffle of the token stream on doc_id (the
    * sessionize window shape) assigns chunk ids; chunk texts are
    * rebuilt per (doc, chunk) group and hashed immediately — only
    * hashes join the corpus-wide frequency table (map-side combined).
    * Expected chunk length is the boundary modulus, so state per
    * group is bounded.
    */
  val CdcBoundaryMod = 8L

  /** The flat (doc, pos, token, boundary-flag) stream the chunker
    * consumes — factored out so the batch operator, the streaming twin
    * ([[graft.streaming.ChunkStream]]) and the specs all derive from
    * ONE definition of the token order and the boundary predicate.
    */
  private[graft] def cdcTokens(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        col("source"),
        posexplode(TextOps.tokens(lower(col("text")))).as(Seq("pos", "tok"))
      )
      .withColumn(
        "b",
        (conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
          % CdcBoundaryMod === 0L).cast("long")
      )

  /** JVM twin of the SQL boundary predicate (the streaming chunker
    * decides boundaries at arrival time, row by row): first 15 md5 hex
    * digits = the same 60-bit value `conv(..., 16, 10)` yields.
    * Spec-bridged against the SQL column over every corpus token.
    */
  private[graft] def cdcBoundaryJvm(tok: String): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % CdcBoundaryMod == 0L
  }

  /** The per-(doc, chunk) table (id, source, chunk id, length, content
    * md5) — exposed for the streaming twin's equality spec.
    */
  private[graft] def cdcChunkTable(spark: SparkSession, dir: String): DataFrame = {
    val toks = cdcTokens(spark, dir)
    val byDoc = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_id", coalesce(sum(col("b")).over(byDoc), lit(0L)))
      .groupBy(col("doc_id"), col("source"), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        md5(
          array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("tok")))),
              s => s.getField("tok")
            ),
            " "
          )
        ).as("chash")
      )
  }

  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunkTable(spark, dir)
    val freq = chunks.groupBy(col("chash")).agg(count(lit(1)).as("nc"))
    chunks
      .join(freq, Seq("chash"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_toks")).as("total_tokens"),
        max(col("n_toks")).as("max_chunk_tokens"),
        sum(when(col("nc") >= 2, 1L).otherwise(0L)).as("dup_chunks")
      )
      .select(
        col("source"),
        col("n_chunks"),
        col("total_tokens"),
        col("max_chunk_tokens"),
        expr("CAST(CAST(total_tokens AS DECIMAL(38,0)) * 1000000 div (n_chunks) AS BIGINT)").as("mean_len_ppm"),
        expr("CAST(CAST(dup_chunks AS DECIMAL(38,0)) * 1000000 div (n_chunks) AS BIGINT)").as("dup_ppm")
      )
  }

  /** Per-source n-gram duplication rate — the corpus-health number a
    * dedup pass is judged by (RefinedWeb/Gopher report exactly this
    * curve): over all SLIDING 8-token grams of a source, how many
    * occurrences are excess repeats of an already-seen gram. Reported
    * as exact integers: total gram occurrences, distinct grams,
    * singleton grams, and dup_ppm = (total − distinct)·10⁶ div total
    * (0 ⇔ every gram unique, → 10⁶ as the source degenerates to
    * copies). Distinctness is per source — cross-source repeats are
    * measured by dup_by_source / containment, not here.
    *
    * Scale: grams come from the codegen word_ngrams expression, are
    * hashed to 60-bit fingerprints immediately (shuffle rows carry 16
    * bytes, never text), and the (source, fp) count agg is map-side
    * combined; the per-source rollup then folds the fingerprint table
    * once. No joins, no windows — scan-bound at 100 TB.
    */
  val DupRateN = 8

  def ngramDupRate(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("source"),
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(TextOps.tokens(lower(col("text"))), lit(DupRateN))
        ).as("g")
      )
      .select(
        col("source"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("fp")
      )
    grams
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("total_grams"),
        count(lit(1)).as("distinct_grams"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("singleton_grams")
      )
      .select(
        col("source"),
        col("total_grams"),
        col("distinct_grams"),
        col("singleton_grams"),
        expr("CAST(CAST((total_grams - distinct_grams) AS DECIMAL(38,0)) * 1000000 div (total_grams) AS BIGINT)").as("dup_ppm")
      )
  }

  /** Blocking-ensemble audit: the pairwise overlap matrix of the
    * board's three candidate-generation families — MinHash LSH
    * (J ≥ 0.7 verified), exact n-gram Jaccard via inverted index
    * (J ≥ 0.5, rare-shingle candidates), sorted-neighborhood
    * (J ≥ 0.5, prefix-adjacency candidates). THE question a dedup
    * operator asks before trusting one blocker: how much of what the
    * exact method finds does the cheap method see, and what does each
    * find alone. Methods verify at different thresholds by contract,
    * so the report is the overlap matrix, not a winner.
    *
    * Scale: all three pair sets are session ARTIFACTS (pair-bounded,
    * memoized — this query re-reads three pinned block sets, runs
    * three pair-key joins on them, and never touches the corpus).
    */
  def ensemblePairs(spark: SparkSession, dir: String): DataFrame = {
    val m = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val g = ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    val s = sortedNeighborhood(spark, dir).select(col("doc_a"), col("doc_b"))
    def cmp(na: String, a: DataFrame, nb: String, b: DataFrame): DataFrame =
      a.agg(count(lit(1)).as("n_a"))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("n_b"))))
        .crossJoin(broadcast(a.join(b, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_both"))))
        .select(
          lit(na).as("method_a"),
          lit(nb).as("method_b"),
          col("n_a"),
          col("n_b"),
          col("n_both")
        )
    cmp("minhash", m, "ngram", g)
      .unionAll(cmp("minhash", m, "snm", s))
      .unionAll(cmp("ngram", g, "snm", s))
  }

  /** What each dedup level would SAVE — the budget sheet that decides
    * which pass is worth running on the corpus: exact fingerprint
    * collapse (whole non-keeper docs), near-dup cluster collapse
    * (non-canonical members), cross-doc span scrub (every duplicated
    * 8-token block, all copies — the span_rewrite semantic), and CDC
    * chunk-store dedup (each duplicate chunk beyond its first copy).
    * Units are each method's own: whole docs + their pack-tokenizer
    * tokens for the doc-level methods, block/chunk tokens for the
    * sub-document methods (doc columns 0 by contract there).
    *
    * Scale: pure composition — the doc-level rows fold the exact-dup
    * window table and the cluster ARTIFACT; the span row is one
    * aggregate over spanRewrite's per-doc drop counts; the chunk row
    * folds the chunk table by content hash. Nothing here adds a
    * corpus pass beyond what the underlying operators already bound.
    */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables
      .documents(spark, dir)
      .select(col("doc_id"), TextOps.packTokenCount(col("text")).as("n_toks"))
    def row(method: String, docs: DataFrame): DataFrame =
      docs
        .join(tok, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs_removed"),
          coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens_removed"))
        .select(lit(method).as("method"), col("n_docs_removed"), col("n_tokens_removed"))
    val exact = row("exact",
      exactDedup(spark, dir).filter(!col("is_keeper")).select(col("doc_id")))
    val near = row("near",
      GraphOps.dedupClusters(spark, dir).filter(!col("is_canonical")).select(col("doc_id")))
    val span = spanRewrite(spark, dir)
      .agg(coalesce(sum(col("n_dropped_blocks") * SpanTokens), lit(0L)).as("t"))
      .select(lit("span").as("method"), lit(0L).as("n_docs_removed"),
        col("t").as("n_tokens_removed"))
    val chunk = cdcChunkTable(spark, dir)
      .groupBy(col("chash"))
      .agg(((count(lit(1)) - 1) * min(col("n_toks"))).as("saved"))
      .agg(coalesce(sum(col("saved")), lit(0L)).as("t"))
      .select(lit("chunk").as("method"), lit(0L).as("n_docs_removed"),
        col("t").as("n_tokens_removed"))
    exact.unionAll(near).unionAll(span).unionAll(chunk)
  }

  /** SimHash estimator calibration — the simhash twin of
    * minhashCalibration: for every banded hamming-≤10 candidate pair,
    * the per-hamming-distance profile of TRUE shingle overlap (pair
    * count, pairs with any shared shingle, exact Σ|A∩B| and Σ|A∪B| —
    * all integers, so the aggregate Jaccard per bin is readable as
    * sum_shared/sum_union without a float crossing the gate). The
    * readout that picks the hamming threshold: the bin where true
    * overlap collapses is where the cut belongs.
    *
    * Scale: pairs are banded-candidate-bounded; the overlap join
    * touches only candidate pairs' postings; output ≤ 11 bins.
    */
  def simhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val posting = shinglePosting(spark, dir).localCheckpoint()
    // The pair graph is the memoized simhash_pairs ARTIFACT — already
    // materialized (its two consumers here reuse the same blocks), so
    // no further checkpoint is needed.
    val pairs = simhashPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val counts = posting.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shared = pairs
      .join(posting.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(posting.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(shared, Seq("doc_a", "doc_b"), "left")
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"), "left")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"), "left")
      .groupBy(col("hamming"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count(col("n_shared")).as("n_overlapping"),
        coalesce(sum(coalesce(col("n_shared"), lit(0L))), lit(0L)).as("sum_shared"),
        coalesce(sum(
          coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))
            - coalesce(col("n_shared"), lit(0L))), lit(0L)).as("sum_union")
      )
  }

  /** Dedup LOCALITY under the corpus's shard layout — the sheet that
    * answers "can the 100 TB near-dup pass run PER SHARD?" Per-shard
    * dedup is embarrassingly parallel (no cross-shard shuffle at
    * all), but it misses every pair whose members hash to different
    * shards; this query prices that miss exactly: near-dup pairs
    * (the memoized `minhash_pairs` artifact) classified intra- vs
    * cross-shard under the SAME seeded md5 layout as
    * `shuffle_shards` (`TextOps.ShuffleSeed` / `NShards` — one
    * definition of the shard policy). Under a content-independent
    * hash layout the expected cross fraction is 1 − 1/S (87.5% at
    * 8 shards) — per-shard dedup is a non-starter — and the measured
    * cross_ppm is the certificate.
    *
    * Scale: a row-local shard key on each side of the PAIR-BOUNDED
    * artifact, one 1-row aggregate; no corpus pass at all.
    */
  /** Newman modularity of the near-dup graph under the SOURCE
    * partition — ONE number for "is duplication an intra-source or a
    * cross-source phenomenon" (the assortativity summary of
    * `dup_source_matrix`): Q = Σ_s [e_s/m − (d_s/2m)²] over the
    * memoized pair artifact, with e_s = intra-source pairs, d_s =
    * endpoint degree mass of source s. Q ≈ 0 means the shard/source
    * boundaries say nothing about where dups live (dedup must be
    * global); Q → 1 licenses per-source passes. Emitted as the exact
    * integer numerator q_num = 4m·Σe_s − Σd_s² (it can be NEGATIVE —
    * disassortative — where floor-div dialects diverge, so the single
    * IEEE division q = q_num / 4m² is the one float, the
    * Mann–Whitney discipline).
    *
    * Scale: two bounded rollups (#sources rows) over the pair-bounded
    * artifact joined to the doc directory for its source column; no
    * corpus pass.
    */
  def dupModularity(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val pairs = minhashLsh(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(col("sa"), col("sb"))
    val deg = pairs
      .select(col("sa").as("s"))
      .unionAll(pairs.select(col("sb").as("s")))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("d"))
    val intra = pairs
      .filter(col("sa") === col("sb"))
      .groupBy(col("sa").as("s"))
      .agg(count(lit(1)).as("e"))
    val sums = deg
      .join(intra, Seq("s"), "left")
      .agg(
        sum(coalesce(col("e"), lit(0L))).as("sum_intra"),
        sum(col("d") * col("d")).as("sum_deg_sq")
      )
    pairs
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(sums)
      .select(
        col("n_pairs"),
        col("sum_intra"),
        col("sum_deg_sq"),
        (lit(4L) * col("n_pairs") * col("sum_intra") - col("sum_deg_sq")).as("q_num"),
        when(
          col("n_pairs") > 0,
          (lit(4L) * col("n_pairs") * col("sum_intra") - col("sum_deg_sq")).cast("double") /
            (lit(4.0) * col("n_pairs").cast("double") * col("n_pairs").cast("double"))
        ).as("q")
      )
  }

  def shardDedupLocality(spark: SparkSession, dir: String): DataFrame = {
    val shard = (c: Column) =>
      conv(substring(md5(concat(lit(TextOps.ShuffleSeed), c.cast("string"))), 1, 2), 16, 10)
        .cast("long") % TextOps.NShards
    minhashLsh(spark, dir)
      .select((shard(col("doc_a")) === shard(col("doc_b"))).as("intra"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("intra"), 1L).otherwise(0L)).as("n_intra")
      )
      .select(
        lit(TextOps.NShards.toLong).as("n_shards"),
        col("n_pairs"),
        col("n_intra"),
        (col("n_pairs") - col("n_intra")).as("n_cross"),
        expr(
          """CAST(CAST(n_pairs - n_intra AS DECIMAL(38,0)) * 1000000
            | DIV GREATEST(n_pairs, 1) AS BIGINT)""".stripMargin
        ).as("cross_ppm")
      )
  }
}
