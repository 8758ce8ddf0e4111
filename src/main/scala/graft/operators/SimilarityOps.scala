package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (`embedding: array<float>`, 64-dim).
  *
  * Three tiers, mirroring how an ANN stack scales:
  *   - `bruteForceTopK`: exact cosine top-k — the correctness baseline.
  *     O(Q*N); the query set is broadcast, the corpus streams, the
  *     per-query top-k is a window over a small Q*N intermediate. At
  *     100 TB this is only for evaluation slices.
  *   - `ivfLabelTopK`: cell-restricted search — the IVF probe pattern
  *     with the `label` column as the coarse quantizer assignment.
  *     The join key (label) prunes the candidate set ~10x; at scale
  *     the corpus would be bucketed/partitioned by cell so a probe
  *     touches one partition.
  *   - `lshTopK`: sign-random-projection LSH, L=8 tables x 4
  *     hyperplanes (md5-derived Rademacher planes, so the construction
  *     is deterministic and reproducible in SQL). Candidates = bucket
  *     collisions in any table; exact cosine re-rank on candidates.
  *
  * Plus `embeddingNearDup`: all pairs above a cosine threshold (the
  *  embedding-cosine near-dup dedup signal).
  */
object SimilarityOps {

  val NumQueries = 5 // queries = vec_id < 5
  val TopK = 5

  private def emb(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
  }

  /** Streamed side of a pair join: the embeddings file is a single
    * scan partition, so without an explicit spread the whole O(Q*N)
    * or O(N^2) scoring loop runs in one task.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact cosine top-k for each query vector (vec_id < NumQueries),
    * self-match excluded; ties broken by neighbor id.
    *
    * Memoized via [[Artifacts]] — (queries × k)-bounded, and shared by
    * the gate query and `annRecall` (which uses it as ground truth).
    */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "ann_topk_brute")(bruteForceTopKBuild(spark, dir))

  private[graft] def bruteForceTopKBuild(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // norms are computed once per vector on each side; the pair stage
    // does only the dot product (3x fewer fused folds per pair)
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        sqrt(normSq(col("embedding"))).as("nq"))
      .filter(col("query_id") < NumQueries)
    val n = spread(e).select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
        sqrt(normSq(col("embedding"))).as("nn"))
    val scored = broadcast(q)
      .join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
  }

  /** IVF-style cell probe: search only the query's own cell (label =
    * coarse assignment). Approximate overall, exact within the cell.
    */
  def ivfLabelTopK(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "ann_topk_ivf")(ivfLabelTopKBuild(spark, dir))

  private[graft] def ivfLabelTopKBuild(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("label"),
        sqrt(normSq(col("embedding"))).as("nq"))
      .filter(col("query_id") < NumQueries)
    val n = spread(e).select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"), col("label"),
        sqrt(normSq(col("embedding"))).as("nn"))
    val scored = broadcast(q)
      .join(n, Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("label"), col("neighbor_id"), col("score"), col("rnk"))
  }

  val LshTables = 8
  val LshPlanes = 4 // bits per table: 16 buckets/table. On this corpus
  // (no cluster structure, near-orthogonal vectors) this sits at
  // recall@5 ~ 0.56 while probing ~40% of the corpus; tighter buckets
  // drop recall sharply (6 planes x 4 tables = 0.12)
  val Dim = 64

  /** Deterministic Rademacher hyperplanes: component (p, j) is +1 iff
    * the first hex digit of md5("p_j") is 0-7. Reproducible anywhere
    * md5 exists (same construction as the SQL/ScalaTest oracles).
    */
  private[operators] def planeSigns: Array[Array[Float]] = {
    val mdig = MessageDigest.getInstance("MD5")
    Array.tabulate(LshTables * LshPlanes, Dim) { (p, j) =>
      val hex = mdig
        .digest(s"${p}_$j".getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_))
        .mkString
      if (hex.charAt(0) < '8') 1.0f else -1.0f
    }
  }

  /** L concatenated sign-buckets per vector, as an array of L strings.
    * Each bit = sign of the projection onto one hyperplane (sequential
    * double fold, like all vector reductions here).
    */
  private def bucketExpr(v: Column): Column = {
    val signs = planeSigns
    // ±1 is exact in float, so the (double)x * (double)sign products —
    // and therefore the fold — are identical to the SQL oracle's
    // double-literal form.
    def proj(p: Int): Column = dot(v, typedLit(signs(p).toSeq))
    array((0 until LshTables).map { l =>
      concat((0 until LshPlanes).map { i =>
        when(proj(l * LshPlanes + i) >= 0.0, lit("1")).otherwise(lit("0"))
      }: _*)
    }: _*)
  }

  /** LSH ANN: candidates collide in >= 1 table bucket; exact cosine
    * re-rank; top-k per query (may return fewer than k — approximate).
    */
  def lshTopK(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "ann_topk_lsh")(lshTopKBuild(spark, dir))

  private[graft] def lshTopKBuild(spark: SparkSession, dir: String): DataFrame = {
    val e = spread(emb(spark, dir)).withColumn("buckets", bucketExpr(col("embedding")))
    val exploded = e.select(
      col("vec_id"),
      col("embedding"),
      posexplode(col("buckets")).as(Seq("table_idx", "bucket"))
    )
    val q = exploded
      .filter(col("vec_id") < NumQueries)
      .select(col("table_idx"), col("bucket"), col("vec_id").as("query_id"),
        col("embedding").as("qe"), sqrt(normSq(col("embedding"))).as("nq"))
    val n = exploded.select(col("table_idx"), col("bucket"), col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), sqrt(normSq(col("embedding"))).as("nn"))
    val cands = broadcast(q)
      .join(n, Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qe"), col("ne"), col("nq"), col("nn"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    cands
      .withColumn("score", dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
  }

  /** LSH configuration sweep: candidate volume and recall@k vs the
    * brute-force truth for three (tables × planes) configs — the
    * ANN-tuning twin of `lsh_band_sweep`. (8×4) is the production
    * config, (4×4) halves the tables (cheaper index, looser recall
    * bound), (4×6) tightens buckets 4× (fewer candidates, sharply
    * lower recall on near-orthogonal corpora). THE curve that picks
    * the config at 100 TB: recall_ppm per candidate pair is the
    * price sheet, and buckets (2^planes × tables keys) are the skew
    * lever the scaladoc on [[embeddingNearDup]] describes.
    *
    * Scale: per config one bucket equi-join against the broadcast
    * query slice — never all-pairs; candidates are checkpointed once
    * and feed the count, the re-rank, and the truth intersection
    * ((queries×k)-bounded). The brute truth is the shared
    * `ann_topk_brute` ARTIFACT — no extra corpus pass. Recall ppm is
    * DECIMAL-mediated integer floor-div.
    */
  val PlaneSweepConfigs = Seq((8, 4), (4, 4), (4, 6))

  def lshPlaneSweep(spark: SparkSession, dir: String): DataFrame = {
    val brute = bruteForceTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
    val truth = brute.agg(count(lit(1)).as("n_truth"))
    // Every config slices the SAME 32-plane pool: project each vector
    // against all 32 planes ONCE (a 32-char sign string, checkpointed)
    // and derive config (T, P)'s bucket for table l as
    // substring(l·P+1, P) — bit (l, i) is pool plane l·P+i, the SAME
    // index contract the SQL oracle reconstructs per config. 32 dot
    // products per vector instead of 144 (each config × both join
    // sides re-deriving its own). The production (8, 4) slicing of
    // this string is exactly bucketExpr's output.
    val signs = planeSigns
    val s32 = concat((0 until LshTables * LshPlanes).map { p =>
      when(dot(col("embedding"), typedLit(signs(p).toSeq)) >= 0.0, lit("1"))
        .otherwise(lit("0"))
    }: _*)
    val signed = spread(emb(spark, dir))
      .select(col("vec_id"), col("embedding"),
        sqrt(normSq(col("embedding"))).as("nv"), s32.as("s32"))
      .localCheckpoint()
    // Round 11: the three configs ran three sequential broadcast-join
    // branches, each re-deriving its candidate set THREE times (count,
    // top-k, truth hits — 9 joins total). They now ride ONE
    // config-tagged slice explode and ONE broadcast join; the tagged
    // candidate set checkpoints once and the three readouts are
    // pair-bounded grouped aggregates over it. Same candidates, same
    // scores, same counts per config.
    val slices = PlaneSweepConfigs.flatMap { case (nt, np) =>
      (0 until nt).map { l =>
        struct(
          lit(s"${nt}x$np").as("config"),
          lit(l).as("table_idx"),
          substring(col("s32"), l * np + 1, np).as("bucket"))
      }
    }
    val ex = signed
      .select(col("vec_id"), col("embedding"), col("nv"),
        explode(array(slices: _*)).as("tb"))
      .select(
        col("vec_id"), col("embedding"), col("nv"),
        col("tb.config").as("config"),
        col("tb.table_idx").as("table_idx"),
        col("tb.bucket").as("bucket"))
    val q = ex
      .filter(col("vec_id") < NumQueries)
      .select(col("config"), col("table_idx"), col("bucket"),
        col("vec_id").as("query_id"), col("embedding").as("qe"), col("nv").as("nq"))
    val n = ex.select(col("config"), col("table_idx"), col("bucket"),
      col("vec_id").as("neighbor_id"), col("embedding").as("ne"), col("nv").as("nn"))
    val cands = broadcast(q)
      .join(n, Seq("config", "table_idx", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("config"), col("query_id"), col("neighbor_id"),
        col("qe"), col("ne"), col("nq"), col("nn"))
      .dropDuplicates("config", "query_id", "neighbor_id")
      .localCheckpoint()
    val w = Window.partitionBy(col("config"), col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    val topk = cands
      .withColumn("score", dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= TopK)
      .select(col("config"), col("query_id"), col("neighbor_id"))
    val nCand = cands.groupBy(col("config")).agg(count(lit(1)).as("n_candidates"))
    val nTopk = topk.groupBy(col("config")).agg(count(lit(1)).as("n_topk"))
    val nHits = topk
      .join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("config"))
      .agg(count(lit(1)).as("n_hits"))
    PlaneSweepConfigs
      .map { case (nt, np) =>
        spark.range(1).select(
          lit(s"${nt}x$np").as("config"),
          lit(nt.toLong).as("n_tables"),
          lit(np.toLong).as("n_planes"))
      }
      .reduce(_ unionAll _)
      .join(nCand, Seq("config"), "left")
      .join(nTopk, Seq("config"), "left")
      .join(nHits, Seq("config"), "left")
      .crossJoin(broadcast(truth))
      .select(
        col("config"),
        col("n_tables"),
        col("n_planes"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_topk"), lit(0L)).as("n_topk"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(
          "CAST(CAST(COALESCE(n_hits, 0) AS DECIMAL(38,0)) * 1000000 DIV n_truth AS BIGINT)")
          .as("recall_ppm")
      )
  }

  /** Lexical-vs-semantic near-dup AGREEMENT audit: the minhash pair
    * graph (token-level near-copies) full-outer-joined with the
    * embedding-cosine pair graph (semantic near-copies) over the
    * shared doc/vec id universe, bucketed both/lexical_only/
    * semantic_only with each category's share of the union in ppm.
    * THE ensemble question for a dedup budget: `semantic_only` mass
    * is what SemDeDup catches that shingling cannot (paraphrase,
    * translation, re-render), `lexical_only` is what embeddings blur
    * past — if either is ~0, the other pass can be dropped at 100 TB
    * and this sheet is the evidence.
    *
    * Scale: BOTH inputs are session pair-graph ARTIFACTS (zero corpus
    * passes here); one pair-keyed full outer join + a 3-row
    * aggregate. Both graphs emit canonical a<b orientation, so the
    * join key needs no normalization.
    */
  def lexicalVsSemantic(spark: SparkSession, dir: String): DataFrame = {
    val lex = DedupOps.minhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(true).as("lex"))
    val sem = embeddingNearDup(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), lit(true).as("sem"))
    val cats = lex
      .join(sem, Seq("doc_a", "doc_b"), "full_outer")
      .select(
        when(coalesce(col("lex"), lit(false)) && coalesce(col("sem"), lit(false)), "both")
          .when(coalesce(col("lex"), lit(false)), "lexical_only")
          .otherwise("semantic_only").as("category")
      )
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n_pairs"))
    val total = cats.agg(sum(col("n_pairs")).as("n_union"))
    cats
      .crossJoin(broadcast(total))
      .select(
        col("category"),
        col("n_pairs"),
        expr("CAST(CAST(n_pairs AS DECIMAL(38,0)) * 1000000 DIV n_union AS BIGINT)")
          .as("share_ppm")
      )
  }

  /** The production (8×4) LSH bucket keys — (table_idx, bucket) per
    * vector — exposed for the cross-scheme candidate-volume audit.
    */
  private[graft] def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    spread(emb(spark, dir))
      .select(posexplode(bucketExpr(col("embedding"))).as(Seq("k1", "k2")))
      .select(col("k1").cast("long").as("k1"), col("k2"))

  val KnnJoinK = 3

  /** Corpus-wide k-NN join: top-k approximate neighbors for EVERY
    * vector, not a fixed query slice — the operator a dedup/cluster
    * pipeline actually runs. Candidates are LSH bucket collisions
    * (same deterministic planes as lshTopK), exact cosine re-rank,
    * per-vector top-k.
    *
    * Scale shape: one equi-join on (table_idx, bucket) — candidate
    * volume is sum over buckets of |bucket|², so the planes count is
    * the knob that keeps buckets executor-sized; the re-rank and the
    * rank window both shuffle only candidate ids. Never all-pairs.
    */
  /** Memoized via [[Artifacts]] (two consumers: the gate query and the
    * hubness audit) — the neighbor list is (N·k)-bounded, so the LSH
    * bucket join runs once per session, not once per consumer.
    */
  def knnJoin(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "knn_join")(knnJoinBuild(spark, dir))

  private[graft] def knnJoinBuild(spark: SparkSession, dir: String): DataFrame = {
    val e = spread(emb(spark, dir))
    val ex = e
      .select(col("vec_id"), posexplode(bucketExpr(col("embedding"))).as(Seq("table_idx", "bucket")))
      .localCheckpoint()
    val cand = ex
      .select(col("table_idx"), col("bucket"), col("vec_id").as("query_id"))
      .join(ex.select(col("table_idx"), col("bucket"), col("vec_id").as("neighbor_id")),
        Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val v = emb(spark, dir).select(col("vec_id"), col("embedding"),
      sqrt(normSq(col("embedding"))).as("nv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    cand
      .join(v.select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nv").as("nq")),
        Seq("query_id"))
      .join(v.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"), col("nv").as("nn")),
        Seq("neighbor_id"))
      .withColumn("score", dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= KnnJoinK)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
  }

  val NearDupThreshold = 0.45

  /** Embedding-cosine near-dup pairs (vec_a < vec_b, cosine >= t),
    * LSH-bucketed: candidates = pairs colliding in >= 1 of the 8
    * sign-random-projection tables (the same deterministic planes as
    * `lshTopK`), then exact cosine re-rank over candidates only.
    *
    * Scale shape: an equi-join on (table_idx, bucket) — never a
    * cartesian half-matrix. The join keys are few (L x 2^planes), so
    * bucket sizes are the skew lever: at 100 TB raise LshPlanes so
    * buckets stay executor-sized (AQE skew-join splits stragglers).
    * Exact-within-candidates: the SQL oracle mirrors the identical
    * bucketing, so both engines score the identical candidate set;
    * candidate recall vs the exact half-matrix is the documented LSH
    * tradeoff (this corpus is near-orthogonal — see LshPlanes note).
    */
  /** Memoized via [[Artifacts]] (two consumers: the gate query and the
    * cross-split semantic-leakage report) — pair-bounded by the cosine
    * threshold, registry-eligible.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "ann_near_dup_pairs")(embeddingNearDupBuild(spark, dir))

  private[graft] def embeddingNearDupBuild(spark: SparkSession, dir: String): DataFrame = {
    val e = spread(emb(spark, dir))
    // (vec_id, table_idx, bucket) is 8 small rows per vector; compute
    // the 32 projections once, not once per join side.
    val ex = e
      .select(col("vec_id"), posexplode(bucketExpr(col("embedding"))).as(Seq("table_idx", "bucket")))
      .localCheckpoint()
    val cand = ex
      .select(col("table_idx"), col("bucket"), col("vec_id").as("vec_a"))
      .join(ex.select(col("table_idx"), col("bucket"), col("vec_id").as("vec_b")),
        Seq("table_idx", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    val v = emb(spark, dir).select(col("vec_id"), col("embedding"),
      sqrt(normSq(col("embedding"))).as("nv"))
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nv").as("na")),
        Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nv").as("nb")),
        Seq("vec_b"))
      .withColumn("score", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("score") >= NearDupThreshold)
      .select(col("vec_a"), col("vec_b"), col("score"))
  }

  val KmeansK = 8

  /** K-means cell assignment (the Lloyd E-step) with deterministic
    * seeds — the centroids are the first K vectors (vec_id < K), so
    * the assignment is reproducible on any engine with no RNG. Squared
    * L2 is derived as ‖v‖² + ‖s‖² − 2·v·s: the two norms are computed
    * once per row/seed (not once per pair), and all three terms are
    * sequential folds, so the combined per-row expression is IEEE-
    * exact and oracle-matchable.
    *
    * Scale shape: seeds are a fixed-K broadcast (K rows at ANY corpus
    * size); the scoring pass is map-only over the corpus; the argmin
    * is min(struct(dist, seed)) — all K candidate rows of a vector sit
    * in the same input partition, so partial aggregation collapses
    * them map-side and the one shuffle carries N rows, not N·K.
    * This is the assignment step of k-means / the coarse-quantizer
    * pass of IVF training / the clustering stage of SemDeDup.
    */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val seeds = e
      .filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("seed_id"), col("embedding").as("se"),
        normSq(col("embedding")).as("sn2"))
    val v = spread(e).select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("vn2"))
    v.crossJoin(broadcast(seeds))
      .select(
        col("vec_id"),
        struct(
          (col("vn2") + col("sn2") - lit(2.0) * dot(col("embedding"), col("se"))).as("dist_sq"),
          col("seed_id").as("cluster")
        ).as("ds")
      )
      .groupBy(col("vec_id"))
      .agg(min(col("ds")).as("best"))
      .select(col("vec_id"), col("best.cluster").as("cluster"), col("best.dist_sq").as("dist_sq"))
  }

  /** K-means M-step: recompute each cell's centroid from its assigned
    * vectors, and report the convergence signal — how far the new
    * centroid moved from its seed. One Lloyd iteration = kmeansAssign
    * (E) + this (M); iterating is a driver loop over these two
    * dataframes, exactly like GraphOps' label-propagation rounds.
    *
    * Exactness: same discipline as labelCentroids — per-dim means come
    * from round(x·10⁶) BIGINT sums (order-independent integer adds),
    * doubles reappear only in per-row math; the 64-dim norm/shift
    * folds run in ascending-dim order over a dimension-sized collected
    * list. Scale shape: the 64× posexplode partial-aggregates to
    * (K × 64) rows map-side before the only wide shuffle; the seed
    * join touches K×64 rows.
    */
  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val asg = kmeansAssign(spark, dir).select(col("vec_id"), col("cluster"))
    val dims = emb(spark, dir)
      .join(asg, Seq("vec_id"))
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(
        col("cluster"),
        col("pos").cast("bigint").as("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)").as("q")
      )
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
    val seedDims = emb(spark, dir)
      .filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cluster"), posexplode(col("embedding")).as(Seq("pos", "sx")))
      .select(col("cluster"), col("pos").cast("bigint").as("pos"),
        col("sx").cast("double").as("s"))
    dims
      .join(seedDims, Seq("cluster", "pos"))
      .groupBy(col("cluster"))
      .agg(
        max(col("n")).as("n_vecs"),
        expr("array_sort(collect_list(named_struct('pos', pos, 'sum_q', sum_q, 's', s)))").as("ds")
      )
      .select(
        col("cluster"),
        col("n_vecs"),
        sqrt(expr(
          "aggregate(ds, 0.0D, (a, t) -> a + (CAST(t.sum_q AS DOUBLE) / 1000000.0 / n_vecs)" +
            " * (CAST(t.sum_q AS DOUBLE) / 1000000.0 / n_vecs))"
        )).as("centroid_norm"),
        sqrt(expr(
          "aggregate(ds, 0.0D, (a, t) -> a + (CAST(t.sum_q AS DOUBLE) / 1000000.0 / n_vecs - t.s)" +
            " * (CAST(t.sum_q AS DOUBLE) / 1000000.0 / n_vecs - t.s))"
        )).as("seed_shift")
      )
  }

  val SemDedupThreshold = 0.4

  /** SemDeDup-style semantic dedup (Abbas et al., 2023): cluster the
    * corpus (kmeansAssign), then compare vectors only WITHIN their
    * cluster and report pairs above the cosine threshold. The cluster
    * pre-partition is what makes embedding dedup tractable at scale —
    * the pair join is an equi-join on the cluster id, so candidate
    * volume is Σ|cell|² instead of N², and K is the knob that keeps
    * cells executor-sized (raise K as the corpus grows; AQE skew-join
    * splits oversized cells). Within-cell scoring is exact cosine —
    * same dot/norm folds as the ANN suite, so the oracle mirrors the
    * identical candidate set and scores bit-identically.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // the assignment feeds both sides of the pair join; one execution
    val asg = kmeansAssign(spark, dir).select(col("vec_id"), col("cluster")).localCheckpoint()
    val v = emb(spark, dir).select(col("vec_id"), col("embedding"),
      sqrt(normSq(col("embedding"))).as("nv"))
    asg
      .select(col("cluster"), col("vec_id").as("vec_a"))
      .join(asg.select(col("cluster"), col("vec_id").as("vec_b")), Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .join(v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nv").as("na")),
        Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nv").as("nb")),
        Seq("vec_b"))
      .withColumn("score", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("score") >= SemDedupThreshold)
      .select(col("cluster"), col("vec_a"), col("vec_b"), col("score"))
  }

  /** Per-label centroid statistics — the "class prototype" pass of an
    * embedding pipeline (cluster summaries, IVF coarse quantizer
    * training, drift monitoring).
    *
    * Exactness design: a distributed mean of floats is order-dependent
    * (parallel FP addition), so the vectors are QUANTIZED per row to
    * round(x·10⁶) BIGINTs — integer sums are exact, order-independent,
    * and engine-independent; doubles only reappear in per-row
    * derivations (mean = sum_q/10⁶/n), which are IEEE-exact in any
    * engine. The 64 per-dim means fold into the centroid norm in
    * ascending-dim order (a bounded 64-element sequential fold — the
    * collected list is dimension-sized, not corpus-sized).
    *
    * Scale shape: the 64× posexplode is map-side partial-aggregated to
    * (label × dim) rows before the only shuffle; everything after
    * operates on ~labels×64 rows.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val dims = emb(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(
        col("label"),
        col("pos").cast("bigint").as("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)").as("q")
      )
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
    // the dim with the largest |mean| (deterministic: integer compare,
    // min-pos tiebreak) — a cheap interpretable per-class signature
    val wTop = Window.partitionBy(col("label")).orderBy(abs(col("sum_q")).desc, col("pos").asc)
    val top = dims
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") === 1)
      .select(
        col("label"),
        col("pos").as("top_dim"),
        (col("sum_q").cast("double") / 1000000.0 / col("n")).as("top_dim_mean")
      )
    val norms = dims
      .groupBy(col("label"))
      .agg(
        max(col("n")).as("n_vecs"),
        expr("array_sort(collect_list(named_struct('pos', pos, 'sum_q', sum_q)))").as("ds")
      )
      .select(
        col("label"),
        col("n_vecs"),
        // x*x, not pow(x,2): Math.pow is not guaranteed correctly
        // rounded, plain multiplication is IEEE-exact in every engine
        sqrt(expr(
          "aggregate(ds, 0.0D, (a, s) -> a + (CAST(s.sum_q AS DOUBLE) / 1000000.0 / n_vecs)" +
            " * (CAST(s.sum_q AS DOUBLE) / 1000000.0 / n_vecs))"
        )).as("centroid_norm")
      )
    norms.join(top, Seq("label")).select(
      col("label").cast("bigint").as("label"),
      col("n_vecs"), col("centroid_norm"), col("top_dim"), col("top_dim_mean")
    )
  }

  /** Int8 quantization report: per vector, the symmetric scale
    * (127 / max|x|), and the L1 reconstruction error of
    * round(x·scale)/scale — the storage/ANN-prep compression step
    * (4 B float → 1 B int per dim) with its quality bill. Everything
    * is PER-ROW arithmetic (max, round, abs, one sequential
    * index-order fold), so no cross-row accumulation discipline is
    * needed and the whole query is a zero-shuffle map stage. HOF
    * lambdas are interpreted (CodegenFallback) — fine off the hot
    * path for a once-per-corpus compression pass; the codegen
    * expression route exists if this ever gates a pipeline.
    */
  def vecQuantize(spark: SparkSession, dir: String): DataFrame = {
    val x = transform(col("embedding"), v => v.cast("double"))
    val maxAbs = aggregate(x, lit(0.0), (a, v) => greatest(a, abs(v)))
    emb(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("bigint").as("n_dims"),
        maxAbs.as("max_abs"),
        x.as("x")
      )
      .withColumn(
        "scale",
        when(col("max_abs") > 0.0, lit(127.0) / col("max_abs")).otherwise(lit(1.0))
      )
      .withColumn(
        "sum_abs_err",
        aggregate(col("x"), lit(0.0),
          (a, v) => a + abs(v - round(v * col("scale")) / col("scale")))
      )
      .select(col("vec_id"), col("n_dims"), col("max_abs"), col("scale"), col("sum_abs_err"))
  }

  /** The second Lloyd iteration end-to-end: assignment against the
    * RECOMPUTED (non-seed) centroids — proving the E→M→E driver loop
    * converges under the exact-arithmetic gates, not just the
    * seed-based first pass. Round-1 assignment and the M-step reuse
    * kmeansAssign / the quantized-centroid discipline; the round-2
    * E-step folds (x−c)² against each of the K centroid arrays
    * (broadcast, K rows at any corpus size) and takes
    * min(struct(dist, cluster)). Output is the per-cluster convergence
    * report: size after round 2, how many vectors switched clusters,
    * and the exact fixed-point within-cluster distance mass.
    */
  def kmeansRound2(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val asg1 = kmeansAssign(spark, dir).select(col("vec_id"), col("cluster")).localCheckpoint()
    val cent = e
      .join(asg1, Seq("vec_id"))
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("cluster"), col("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)").as("q"))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
      .groupBy(col("cluster"))
      .agg(expr(
        "transform(array_sort(collect_list(named_struct('pos', pos, 'sum_q', sum_q, 'n', n)))," +
          " s -> CAST(s.sum_q AS DOUBLE) / 1000000.0 / s.n)"
      ).as("centroid"))
      .select(col("cluster").as("c2"), col("centroid"))
    val asg2 = spread(e)
      .crossJoin(broadcast(cent))
      .select(
        col("vec_id"),
        struct(
          expr(
            "aggregate(zip_with(embedding, centroid, (x, c) -> " +
              "(CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), 0.0D, (a, v) -> a + v)"
          ).as("dist_sq"),
          col("c2").as("cluster2")
        ).as("dc")
      )
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("best"))
      .select(col("vec_id"), col("best.cluster2").as("cluster2"),
        col("best.dist_sq").as("dist_sq"))
    asg2
      .join(asg1, Seq("vec_id"))
      .groupBy(col("cluster2").as("cluster"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("cluster2") =!= col("cluster"), 1L).otherwise(0L)).as("n_switched"),
        sum(expr("CAST(round(dist_sq * 1000000000.0) AS BIGINT)")).as("dist_mass_q")
      )
      .select(col("cluster"), col("n_vecs"), col("n_switched"), col("dist_mass_q"),
        (col("dist_mass_q").cast("double") / 1e9 / col("n_vecs")).as("mean_dist_sq"))
  }

  val OutlierTopK = 3

  /** Per-label outlier detection: each vector's squared distance to
    * its label centroid, top-3 farthest per label — the
    * embedding-space anomaly/mislabeled-data sweep that follows
    * centroid computation in a curation pipeline.
    *
    * Exactness: centroids use labelCentroids' quantized-integer
    * discipline (round(x·10⁶) BIGINT sums — order-independent), then
    * the centroid's 64 means come back as ONE pos-sorted array per
    * label and each vector folds (x−mean)² over it in ascending-dim
    * order with zip_with — per-row IEEE arithmetic, oracle-exact.
    *
    * Scale shape: the posexplode partial-aggregates to labels×64 rows
    * map-side (the only wide shuffle); the centroid-array join is a
    * labels-sized broadcast; the per-label top-3 plans as
    * WindowGroupLimit (map-side partial top-k), so no full sort of
    * the corpus ever happens.
    */
  def centroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val centroid = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(expr(
        "transform(array_sort(collect_list(named_struct('pos', pos, 'sum_q', sum_q, 'n', n)))," +
          " s -> CAST(s.sum_q AS DOUBLE) / 1000000.0 / s.n)"
      ).as("centroid"))
    val w = Window.partitionBy(col("label")).orderBy(col("dist_sq").desc, col("vec_id").asc)
    spread(e)
      .join(broadcast(centroid), Seq("label"))
      .select(
        col("label").cast("bigint").as("label"),
        col("vec_id"),
        expr(
          "aggregate(zip_with(embedding, centroid, (x, c) -> " +
            "(CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), 0.0D, (a, v) -> a + v)"
        ).as("dist_sq")
      )
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= OutlierTopK)
  }

  val PqSubspaces = 8
  val PqSubDim = 8 // 64 dims / 8 subspaces
  val PqCodewords = 16 // codebook m = the m-th subvectors of vec_id < 16

  /** Product-quantization ANN (the IVF-PQ memory-compression layer):
    * each vector is split into 8 subvectors of 8 dims; each subvector
    * is ENCODED as the id of its nearest codeword (so a 256 B float
    * vector becomes 8 code bytes); a query is answered by ADC
    * (asymmetric distance computation) — precompute the query's exact
    * distance to every codeword of every subspace (a Q×8×16 lookup
    * table), then score each corpus vector as the SUM of 8 table
    * lookups, never touching the original floats.
    *
    * Codebooks are deterministic (the subvectors of the first 16
    * vectors — one k-means++ -less "iteration zero"; kmeansStep is the
    * training loop if real codebooks are wanted), so encode/ADC are
    * exactly reproducible in SQL.
    *
    * Scale shape: the codebook (8×16 subvectors) and the LUT (Q×8×16
    * distances) are broadcast at ANY corpus size; encoding is one
    * map-side-combined argmin over N×8 rows (same min(struct) shape as
    * kmeansAssign); the ADC scan shuffles N×Q pre-combined partial
    * sums — the standard PQ probe cost, with Q a small query slice.
    * Per-subspace distances are fixed-point-quantized (round(d·10⁹)
    * BIGINT) before the cross-row sum so the 8-way addition is
    * order-independent and oracle-exact.
    */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    def subvecs(df: DataFrame, idAs: String): DataFrame =
      df.select(
          col("vec_id").as(idAs),
          explode(array((0 until PqSubspaces).map { m =>
            struct(
              lit(m.toLong).as("sub"),
              slice(col("embedding"), m * PqSubDim + 1, PqSubDim).as("sv")
            )
          }: _*)).as("s")
        )
        .select(col(idAs), col("s.sub").as("sub"), col("s.sv").as("sv"))
    val cb = subvecs(e.filter(col("vec_id") < PqCodewords), "code_id")
      .select(col("code_id"), col("sub"), col("sv").as("cw"), normSq(col("sv")).as("cwn2"))
    val codes = subvecs(spread(e), "vec_id")
      .withColumn("svn2", normSq(col("sv")))
      .join(broadcast(cb), Seq("sub"))
      .select(
        col("vec_id"),
        col("sub"),
        struct(
          (col("svn2") + col("cwn2") - lit(2.0) * dot(col("sv"), col("cw"))).as("d"),
          col("code_id").as("code")
        ).as("dc")
      )
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("dc")).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))
    val lut = subvecs(e.filter(col("vec_id") < NumQueries), "query_id")
      .withColumn("qn2", normSq(col("sv")))
      .join(cb, Seq("sub"))
      .select(
        col("query_id"),
        col("sub"),
        col("code_id").as("code"),
        (col("qn2") + col("cwn2") - lit(2.0) * dot(col("sv"), col("cw"))).as("d")
      )
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_q").asc, col("vec_id").asc)
    codes
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(expr("CAST(round(d * 1000000000.0) AS BIGINT)")).as("adc_q"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= TopK)
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        (col("adc_q").cast("double") / 1e9).as("adc_dist"),
        col("rnk")
      )
  }

  /** Johnson-Lindenstrauss random projection QA: project 64-dim
    * embeddings to 16 dims with a deterministic Rademacher matrix
    * (md5("rp{k}_{j}") signs — same reproducible-anywhere construction
    * as the LSH planes) and report, for every pair in a fixed probe
    * set, how well ||Sx - Sy||^2 / 16 preserves ||x - y||^2 — the
    * contract that justifies running ANN/clustering on the compressed
    * vectors. Exactness: projections are 16 independent codegen
    * vec_dot folds; squared distances use the (||a||^2 + ||b||^2) -
    * 2ab identity, and d2_proj is an explicit left-associated 16-term
    * sum, so every double op has one defined evaluation order on both
    * engines.
    *
    * Scale: the projection itself is a pure map (16 dots per row, no
    * shuffle) — at 100 TB it runs over the full corpus and feeds the
    * ANN/kmeans ops at 4x less width; the all-pairs report here is
    * deliberately bounded to the 10-vector probe (45 pairs), the
    * documented eval harness, not a corpus-wide pair join.
    */
  val RpDims = 16
  val RpProbe = 10

  private[operators] def rpSigns: Array[Array[Float]] = {
    val mdig = MessageDigest.getInstance("MD5")
    Array.tabulate(RpDims, Dim) { (k, j) =>
      val hex = mdig
        .digest(s"rp${k}_$j".getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_))
        .mkString
      if (hex.charAt(0) < '8') 1.0f else -1.0f
    }
  }

  def rpProject(spark: SparkSession, dir: String): DataFrame = {
    val signs = rpSigns
    val withY = emb(spark, dir)
      .filter(col("vec_id") < RpProbe)
      .select(
        col("vec_id") +: col("embedding") +:
          (0 until RpDims).map(k => dot(col("embedding"), typedLit(signs(k).toSeq)).as(s"y$k")): _*
      )
    val a = withY.select(withY.columns.map(c => col(c).as(s"a_$c")).toSeq: _*)
    val b = withY.select(withY.columns.map(c => col(c).as(s"b_$c")).toSeq: _*)
    val d2proj = (0 until RpDims)
      .map { k =>
        (col(s"a_y$k") - col(s"b_y$k")) * (col(s"a_y$k") - col(s"b_y$k"))
      }
      .reduceLeft(_ + _)
    a.join(b, col("a_vec_id") < col("b_vec_id"))
      .select(
        col("a_vec_id").as("vec_a"),
        col("b_vec_id").as("vec_b"),
        ((normSq(col("a_embedding")) + normSq(col("b_embedding"))) -
          lit(2.0) * dot(col("a_embedding"), col("b_embedding"))).as("d2_orig"),
        d2proj.as("d2_proj")
      )
      .withColumn("ratio", col("d2_proj") / (lit(16.0) * col("d2_orig")))
  }

  /** Embedding data-quality report: the validation pass every ANN /
    * clustering pipeline runs before trusting a vector column — per
    * label: vector count, dimension consistency (min/max width —
    * a ragged column breaks every dot-product kernel), zero-vector
    * count (cosine is undefined on them), NaN dimension count, and
    * quantized value bounds (the labelCentroids 1e-6 grid, so the
    * bounds are exact integers on both engines).
    *
    * Scale: pure map over vectors (per-row array folds, no explode)
    * into a per-label aggregate — one tiny shuffle.
    */
  def embeddingQa(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .embeddings(spark, dir)
      .select(
        col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("n_dims"),
        expr("size(filter(embedding, v -> isnan(v)))").cast("long").as("n_nan"),
        when(expr("size(filter(embedding, v -> v <> 0))") === 0, 1L)
          .otherwise(0L)
          .as("is_zero"),
        expr(
          "array_min(transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)))"
        ).as("mn"),
        expr(
          "array_max(transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)))"
        ).as("mx")
      )
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("n_dims")).as("n_dims_min"),
        max(col("n_dims")).as("n_dims_max"),
        sum(col("is_zero")).as("n_zero_vecs"),
        min(col("mn")).as("min_q"),
        max(col("mx")).as("max_q"),
        sum(col("n_nan")).as("n_nan_dims")
      )
  }

  /** Matryoshka/prefix-dimension retrieval quality: how much ANN
    * accuracy survives truncating embeddings to their first k dims —
    * the dimension-ablation report behind storage/latency tradeoffs
    * (half the dims = half the scan bytes and half the FLOPs per
    * pair). For k in {8,16,32,64}: exact cosine top-10 per query
    * using only embedding[0:k], overlapped against the full-width
    * (k=64) top-10. Emits per (k, query) the overlap count and its
    * floor-div recall ppm; the k=64 row is the self-consistency
    * anchor (overlap == 10 by construction, asserted in the spec).
    *
    * Scale: the k fan-out multiplies the scored pairs 4x, but each
    * prefix pair costs proportionally less (VecDot walks only k
    * elements); the broadcast-queries x streamed-corpus shape and the
    * (k, query) top-k window are unchanged from bruteForceTopK. At
    * 100 TB the same plan runs over an evaluation slice, and the
    * verdict ("k=16 keeps 80% recall") retunes the production index
    * width — the sliced scoring itself never touches the full corpus
    * twice: one scan feeds all four widths.
    */
  /** Gram matrix X^T·X of the embedding corpus (upper triangle): the
    * distributed matrix primitive behind covariance/PCA/whitening and
    * linear-probe training — each row contributes its outer product,
    * summed per (i, j) cell. Relational form: one posexplode + a
    * vec_id-co-partitioned self-join fans each vector into its
    * dim-pair products, then a 64·65/2-group hash aggregate with
    * map-side combine collapses the corpus. Products are computed in
    * IEEE double (both engines identically) and SUMMED through
    * DECIMAL(38,10) — order-independent exact, the xsum discipline.
    *
    * Scale: output is dims² (fixed). The per-row upper-triangle
    * products are born in the SCAN stage by the codegen
    * `outer_products` expression (one pass, no vec_id self-join — the
    * earlier relational form co-partition-shuffled rows·dims exploded
    * values twice), so map-side combine collapses the corpus to
    * dims·(dims+1)/2 partial decimal sums before the only (tiny)
    * exchange; (pos → i, j) resolves against a broadcast dims²-row
    * index table. Products are IEEE doubles summed through
    * DECIMAL(38,10) — order-independent exact, so the cells are
    * bit-identical to the join form and the oracle.
    */
  /** Session-memoized (round 11): dims·(dims+1)/2 rows — far inside
    * the registry's type-bounded contract — and THREE consumers run
    * the corpus collapse otherwise (the `gram_matrix` readout plus
    * [[pcaFit]] under both `pca_power` and `pca_scores`).
    */
  def gramMatrix(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "gram_matrix")(gramMatrixBuild(spark, dir))

  private[graft] def gramMatrixBuild(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val spark2 = e.sparkSession
    val pairs = spark2
      .range(0, Dim)
      .select(col("id").as("i"))
      .crossJoin(spark2.range(0, Dim).select(col("id").as("j")))
      .filter(col("j") >= col("i"))
      .withColumn("pos", expr(s"CAST(i * $Dim - i * (i - 1) DIV 2 + (j - i) AS INT)"))
    spread(e)
      .select(
        posexplode(graft.functions.VectorExpressions.outerProducts(col("embedding")))
          .as(Seq("pos", "p"))
      )
      .join(broadcast(pairs), Seq("pos"))
      .groupBy(col("i"), col("j"))
      .agg(RelationalOps.xsum(col("p")).as("gram"))
  }

  val PcaRounds = 48

  /** Top principal component by POWER ITERATION on the distributed
    * Gram matrix — the eigen-solver shape every PCA/spectral pipeline
    * runs at scale: G's rows stay distributed (dims² cells; at real
    * width that's the big object), the iterate x broadcasts as a
    * 64-literal array, and each round is one map (`aggregate(zip_with(
    * grow, x))` — Spark's sequential left-fold HOF, the same fold
    * contract as VecDot/list_sum, so float parity holds) plus one
    * bounded 64-row collect for the normalization (the BPE merge-rule
    * pattern: per-round driver state is the ITERATE, never data).
    * Fixed `PcaRounds` rounds, x0 = 1/8 uniform — the kcore/pagerank
    * determinism contract (the spec asserts the Rayleigh quotient has
    * actually stabilized on this corpus). Output: the 64 loadings and
    * the eigenvalue estimate λ = ‖G·x‖ from the last round.
    */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (x, lambda) = pcaFit(spark, dir)
    x.zipWithIndex
      .map { case (v, i) => (i.toLong, v, lambda) }
      .toSeq
      .toDF("i", "loading", "lambda")
  }

  /** The shared fit loop: returns (component, eigenvalue estimate).
    *
    * The Gram matrix is Dim×Dim — bounded by the EMBEDDING WIDTH, not
    * the corpus — so after the one distributed pass that builds it,
    * the whole power iteration runs ON THE DRIVER: collect the 64
    * j-sorted rows once, then 48 rounds of 64×64 matvec in plain
    * Scala. The previous form ran each round as its own tiny Spark
    * job (HOF matvec over a 1-partition frame + collect): 48 × ~50 ms
    * of job-scheduling overhead = 2.4 s of pure coordination at
    * sf0.1. Floating-point parity is preserved exactly: the matvec
    * accumulates j-ascending (the zip_with/aggregate fold order), the
    * norm folds i-ascending — the same IEEE operation sequence the
    * SQL form and the DuckDB oracle execute, so the hashes are
    * unchanged. (At very large Dim the collect is Dim² doubles —
    * 128 MB at 4k — still a driver-bounded eigensolve, the shape real
    * systems use; the corpus never moves either way.)
    */
  private def pcaFit(spark: SparkSession, dir: String): (Array[Double], Double) = {
    val g = gramMatrix(spark, dir)
    val full = g.unionByName(
      g.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("gram"))
    )
    val grows: Array[Array[Double]] = full
      .groupBy(col("i"))
      .agg(expr("transform(array_sort(collect_list(struct(j, gram))), p -> p.gram)").as("grow"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    var x: Array[Double] = Array.fill(Dim)(0.125)
    var lambda = 0.0
    for (_ <- 1 to PcaRounds) {
      val y = grows.map { row =>
        var acc = 0.0
        var j = 0
        while (j < Dim) { acc += row(j) * x(j); j += 1 } // j-ascending, as zip_with/aggregate
        acc
      }
      lambda = math.sqrt(y.foldLeft(0.0)((acc, v) => acc + v * v))
      x = y.map(_ / lambda)
    }
    (x, lambda)
  }

  /** Fit → TRANSFORM: every embedding projected onto the learned top
    * component (the same sequential fold as the fit's matvec), then a
    * per-label distribution report — n, decimal-exact score sum, IEEE
    * min/max. The composition every feature pipeline runs: learn the
    * projection on the corpus, apply it to the corpus, sanity-check
    * the result per class. One pass over embeddings, one 10-group agg.
    */
  def pcaScores(spark: SparkSession, dir: String): DataFrame = {
    val (x, _) = pcaFit(spark, dir)
    val xLit = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(x.map(lit(_))): _*)
    emb(spark, dir)
      .withColumn("xs", xLit)
      .select(
        col("label"),
        expr(
          "aggregate(zip_with(embedding, xs, (a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, v) -> acc + v)")
          .as("score")
      )
      .groupBy(col("label").cast("bigint").as("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        RelationalOps.xsum(col("score")).as("score_sum"),
        min(col("score")).as("score_min"),
        max(col("score")).as("score_max")
      )
  }

  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val kdf = spark.range(0, 4)
      .select((lit(8) * pow(lit(2), col("id")).cast("int")).cast("int").as("k"))
    val q = e.filter(col("vec_id") < NumQueries)
      .crossJoin(broadcast(kdf))
      .select(col("k"), col("vec_id").as("query_id"),
        slice(col("embedding"), lit(1), col("k")).as("qe"))
      .withColumn("nq", sqrt(normSq(col("qe"))))
    val n = spread(e).crossJoin(broadcast(kdf))
      .select(col("k").as("nk"), col("vec_id").as("neighbor_id"),
        slice(col("embedding"), lit(1), col("k")).as("ne"))
      .withColumn("nn", sqrt(normSq(col("ne"))))
    val scored = broadcast(q)
      .join(n, col("k") === col("nk") && col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
    val w = Window.partitionBy(col("k"), col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    // 4 k-widths x Q queries x 10 rows — bounded; materialized once so
    // the full-width anchor join doesn't re-run the scoring pass
    val top = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("k"), col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val full = top.filter(col("k") === 64)
      .select(col("query_id").as("fq"), col("neighbor_id").as("fn"))
    top
      // LEFT join: a prefix width whose top-10 shares NOTHING with the
      // full-width list must still report its (k, query) row with 0
      .join(full, col("query_id") === col("fq") && col("neighbor_id") === col("fn"), "left")
      .groupBy(col("k").cast("bigint").as("k"), col("query_id"))
      .agg(count(col("fn")).as("n_overlap"))
      .withColumn("recall_ppm", expr("n_overlap * 100000")) // == *1e6 DIV 10, exact
  }

  /** ANN recall audit: IVF-cell and sign-LSH top-k measured against
    * the brute-force exact top-k as ground truth — THE number that
    * decides whether an approximate index is shippable ("IVF keeps
    * X% of true neighbors at 1/cells of the scan"). Hits are exact
    * (query, neighbor) set intersections; recall as floor-div ppm.
    *
    * Scale: the truth and approx top-k tables are (queries × k)-
    * bounded — tiny by construction — so the audit is three bounded
    * joins; at 100 TB the same audit runs over an evaluation slice
    * while the production index serves the full corpus.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // all three top-k paths are memoized artifacts now — already
    // materialized, so no further checkpoints are needed here
    val truth = bruteForceTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    def row(method: String, approx: DataFrame): DataFrame = {
      val a = approx.select(col("query_id"), col("neighbor_id"))
      truth
        .agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(a.agg(count(lit(1)).as("n_approx"))))
        .crossJoin(broadcast(
          truth.join(a, Seq("query_id", "neighbor_id")).agg(count(lit(1)).as("n_hits"))))
        .select(
          lit(method).as("method"),
          col("n_truth"),
          col("n_approx"),
          col("n_hits"),
          expr("CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000 DIV n_truth AS BIGINT)")
            .as("recall_ppm")
        )
    }
    row("ivf", ivfLabelTopK(spark, dir)).unionAll(row("lsh", lshTopK(spark, dir)))
  }

  val HardNegK = 3

  /** Contrastive hard-negative mining: for each query vector (vec_id <
    * NumQueries) the top-`HardNegK` highest-cosine neighbors whose
    * LABEL DIFFERS — the "closest wrong answers" a contrastive or
    * metric-learning run needs per anchor (easy negatives teach
    * nothing; same-label neighbors are positives, not negatives).
    *
    * Scale shape: identical to `bruteForceTopK` — the bounded query
    * slice broadcasts against the corpus, one pass, per-query
    * WindowGroupLimit heap keeps K rows per map task so the shuffle
    * carries candidates, not the corpus. At 100 TB the candidate
    * generator swaps to the LSH-bucketed path (`knnJoin`'s shape)
    * with the label filter applied at re-rank, unchanged downstream.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("qe"), sqrt(normSq(col("embedding"))).as("nq"))
      .filter(col("query_id") < NumQueries)
    val n = spread(e).select(col("vec_id").as("neighbor_id"),
      col("label").as("neighbor_label"), col("embedding").as("ne"),
      sqrt(normSq(col("embedding"))).as("nn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    broadcast(q)
      .join(n, col("query_label") =!= col("neighbor_label")) // negatives only
      .withColumn("score", dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= HardNegK)
      .select(col("query_id"), col("query_label").cast("bigint").as("query_label"),
        col("neighbor_id"), col("neighbor_label").cast("bigint").as("neighbor_label"),
        col("score"), col("rnk"))
  }

  /** Hubness audit: the k-occurrence histogram of the approximate kNN
    * graph — for each vector, how many OTHER vectors list it among
    * their top-k (`knnJoin`, k=3); output is (k_occurrences →
    * n_vectors), including the k_occ=0 anti-hub row. High-dimensional
    * spaces concentrate neighbors on a few hub points; a fat right
    * tail here means retrieval/dedup quality is about to degrade and
    * is the standard embedding-QA readout (hubness is THE known
    * pathology of high-dim kNN).
    *
    * Scale: consumes the memoized `knn_join` ARTIFACT ((N·k)-bounded
    * pairs) — zero corpus passes; one count aggregate per neighbor,
    * one histogram aggregate, and a 1-row anti-hub complement from
    * the corpus count.
    */
  def hubnessSkew(spark: SparkSession, dir: String): DataFrame = {
    val occ = knnJoin(spark, dir)
      .groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("k_occ"))
    val hist = occ.groupBy(col("k_occ")).agg(count(lit(1)).as("n_vecs"))
    val zero = emb(spark, dir)
      .agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(occ.agg(count(lit(1)).as("n_hit"))))
      .select(lit(0L).as("k_occ"), (col("n_total") - col("n_hit")).as("n_vecs"))
      .filter(col("n_vecs") > 0)
    hist.unionAll(zero)
  }

  /** Cross-split SEMANTIC leakage: embedding-cosine near-dup pairs
    * (the memoized `ann_near_dup_pairs` artifact) bucketed by the
    * md5 80/10/10 split assignment of their two ends — the semantic
    * twin of the shingle-based `split_leakage`: an id-keyed split
    * keeps paraphrases apart in NO split, and every (train, test)
    * row here is an eval answer the model saw in training in
    * paraphrase form. max_score per bucket is the severity readout
    * (a per-pair IEEE division, order-independent under MAX).
    *
    * Scale: pair-bounded input; two md5 expressions and a ≤9-group
    * aggregate — zero corpus passes.
    */
  def semanticLeakage(spark: SparkSession, dir: String): DataFrame = {
    embeddingNearDup(spark, dir)
      .select(
        TextOps.splitExpr(col("vec_a")).as("split_a"),
        TextOps.splitExpr(col("vec_b")).as("split_b"),
        col("score"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("score")).as("max_score"))
  }

  /** Widest probe width the sweep prices. */
  val NprobeMax = 3

  /** IVF nprobe SWEEP — the missing tuning sheet beside the LSH
    * plane/band sweeps: recall and candidate volume when each query
    * probes its 1, 2, or 3 NEAREST cells by centroid cosine (real IVF
    * probing — `ivfLabelTopK` probes only the query's own label;
    * probing by centroid distance is what an IVF index actually
    * does, and nprobe is its recall/cost dial at 100 TB).
    *
    * Scale discipline: ONE scoring join at the widest nprobe feeds
    * all three configs as conditional filters (the lsh_plane_sweep
    * pattern); centroids are the 1e-6-quantized exact integer sums of
    * labelCentroids (deterministic doubles from exact integers) built
    * as ordered arrays so every per-query centroid similarity is a
    * sequential fold; the query × #cells ranking frame is
    * (queries × labels)-bounded and broadcast; recall is judged
    * against the memoized brute-force truth artifact.
    */
  def ivfNprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val dims = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(
        col("label"),
        col("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)").as("q")
      )
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("sum_q"))
    val nvec = e.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val cent = dims
      .groupBy(col("label"))
      .agg(expr("array_sort(collect_list(named_struct('pos', pos, 'sum_q', sum_q)))").as("ds"))
      .join(nvec, Seq("label"))
      .select(
        col("label"),
        expr("transform(ds, s -> CAST(s.sum_q AS DOUBLE) / 1000000.0 / n_vecs)").as("cvec")
      )
      .withColumn(
        "cnorm",
        sqrt(expr("aggregate(transform(cvec, c -> c * c), 0.0D, (a, v) -> a + v)"))
      )
    val q = e
      .filter(col("vec_id") < NumQueries)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        sqrt(normSq(col("embedding"))).as("nq")
      )
    val wRank = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("label").asc)
    val probed = q
      .crossJoin(broadcast(cent))
      .withColumn(
        "csim",
        expr("aggregate(zip_with(qe, cvec, (x, c) -> CAST(x AS DOUBLE) * c), 0.0D, (a, v) -> a + v)") /
          (col("nq") * col("cnorm"))
      )
      .withColumn("label_rank", row_number().over(wRank).cast("bigint"))
      .filter(col("label_rank") <= NprobeMax)
      .select(col("query_id"), col("qe"), col("nq"), col("label"), col("label_rank"))
    val n = spread(e).select(
      col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"),
      col("label"),
      sqrt(normSq(col("embedding"))).as("nn")
    )
    val scored = broadcast(probed)
      .join(n, Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
      .select(col("query_id"), col("neighbor_id"), col("label_rank"), col("score"))
      .localCheckpoint()
    val truth = bruteForceTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
    (1 to NprobeMax)
      .map { np =>
        val cand = scored.filter(col("label_rank") <= np)
        val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
        val topk = cand
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= TopK)
          .select(col("query_id"), col("neighbor_id"))
        cand
          .agg(count(lit(1)).as("n_candidates"))
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
          .crossJoin(broadcast(
            truth.join(topk, Seq("query_id", "neighbor_id")).agg(count(lit(1)).as("n_hits"))))
          .select(
            lit(np.toLong).as("nprobe"),
            col("n_candidates"),
            col("n_truth"),
            col("n_hits"),
            expr("CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000 DIV n_truth AS BIGINT)")
              .as("recall_ppm")
          )
      }
      .reduce(_ unionAll _)
  }

  /** D4-style prototypicality pruning (Sorscher et al., NeurIPS 2022;
    * Tirumala et al. 2023 compose SemDeDup + this pass as "D4"): within
    * each k-means cluster, rank members by cosine to their own cluster
    * centroid and DROP the most prototypical 20% — when data is
    * abundant, the easy/redundant examples nearest the prototype teach
    * the least, so pruning them beats random sampling. This completes
    * the board's embedding-curation family: [[semanticDedup]] removes
    * near-copies, this removes over-represented "typical" mass.
    *
    * Exactness design: the output is ALL-INTEGER — per cluster the
    * member count, the prune count ⌊n/5⌋, and the vec_id SUMS of the
    * pruned and kept sets, which pin the exact membership of both
    * sides without emitting a corpus-sized frame. The ranking cosine
    * follows the ivfNprobeSweep discipline: centroids are the
    * 1e-6-quantized exact integer per-dim sums (order-independent)
    * divided per row, and the dot/norm folds are sequential ascending
    * so both engines compute bit-identical doubles; ties (none in
    * practice) break on vec_id.
    *
    * Scale: one assignment pass (reused via localCheckpoint for the
    * centroid aggregate AND the scoring join), a K×64 centroid
    * broadcast, a row-local score, and a PER-CLUSTER window — cell
    * size is bounded by the K knob (raise K as the corpus grows),
    * exactly the semanticDedup partition argument.
    */
  def protoPrune(spark: SparkSession, dir: String): DataFrame = {
    val asg = kmeansAssign(spark, dir)
      .select(col("vec_id"), col("cluster"))
      .localCheckpoint()
    val v = emb(spark, dir).select(
      col("vec_id"),
      col("embedding"),
      sqrt(normSq(col("embedding"))).as("nv")
    )
    val members = asg.join(v, Seq("vec_id"))
    val dims = members
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(
        col("cluster"),
        col("pos").cast("bigint").as("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)").as("q")
      )
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("q")).as("sum_q"))
    val nvec = asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    val cent = dims
      .groupBy(col("cluster"))
      .agg(expr("array_sort(collect_list(named_struct('pos', pos, 'sum_q', sum_q)))").as("ds"))
      .join(nvec, Seq("cluster"))
      .select(
        col("cluster"),
        col("n_vecs"),
        expr("transform(ds, s -> CAST(s.sum_q AS DOUBLE) / 1000000.0 / n_vecs)").as("cvec")
      )
      .withColumn(
        "cnorm",
        sqrt(expr("aggregate(transform(cvec, c -> c * c), 0.0D, (a, v) -> a + v)"))
      )
    val w = Window.partitionBy(col("cluster")).orderBy(col("csim").desc, col("vec_id").asc)
    members
      .join(broadcast(cent), Seq("cluster"))
      .withColumn(
        "csim",
        expr("aggregate(zip_with(embedding, cvec, (x, c) -> CAST(x AS DOUBLE) * c)," +
          " 0.0D, (a, v) -> a + v)") / (col("nv") * col("cnorm"))
      )
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .withColumn("n_prune", expr("n_vecs DIV 5"))
      .groupBy(col("cluster"))
      .agg(
        max(col("n_vecs")).as("n_vecs"),
        max(col("n_prune")).as("n_pruned"),
        coalesce(sum(when(col("rnk") <= col("n_prune"), col("vec_id"))), lit(0L))
          .as("pruned_id_sum"),
        coalesce(sum(when(col("rnk") > col("n_prune"), col("vec_id"))), lit(0L))
          .as("kept_id_sum")
      )
      .select(
        col("cluster"),
        col("n_vecs"),
        col("n_pruned"),
        (col("n_vecs") - col("n_pruned")).as("n_kept"),
        col("pruned_id_sum"),
        col("kept_id_sum")
      )
  }

  /** Simplified-silhouette sheet per cluster (Hruschka et al. 2004 —
    * the centroid-based silhouette every clustering library reports):
    * for each vector, a = distance to its OWN seed, b = distance to
    * the nearest OTHER seed, s = (b − a)/max(a, b) ∈ [−1, 1]; the
    * sheet reports per cluster the exact 1e-6-quantized silhouette
    * SUM, the count of NEGATIVE silhouettes (vectors closer to a
    * foreign seed than their own — the misassignment census), and the
    * mean as ONE IEEE division of exact integers (a quantized-sum
    * floor-div would hit the negative-floor dialect seam — the
    * dup_modularity discipline). Against the k-means family this is
    * the quality dial: assign/step give the fit, this says whether K
    * fits the data.
    *
    * Exactness: distances reuse the kmeansAssign fold (vn2 + sn2 −
    * 2·dot, bit-identical in both engines); own/other selection is the
    * same (dist, seed) struct order as the assignment; s is quantized
    * round(s·10⁶) per ROW (both engines round half away from zero), so
    * the cluster sums are exact integer adds.
    *
    * Scale: one K-row seed broadcast against the streamed corpus, a
    * per-vector K-bounded sorted list, one #K-group aggregate — the
    * exact kmeansAssign shape plus a bounded array step.
    */
  def silhouetteSheet(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val seeds = e
      .filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("seed_id"), col("embedding").as("se"),
        normSq(col("embedding")).as("sn2"))
    val v = spread(e).select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("vn2"))
    val sil = v
      .crossJoin(broadcast(seeds))
      .select(
        col("vec_id"),
        struct(
          (col("vn2") + col("sn2") - lit(2.0) * dot(col("embedding"), col("se"))).as("dist_sq"),
          col("seed_id").as("cluster")
        ).as("ds")
      )
      .groupBy(col("vec_id"))
      .agg(expr("array_sort(collect_list(ds))").as("da"))
      .select(
        col("vec_id"),
        expr("da[0].cluster").as("cluster"),
        // greatest(·, 0) before sqrt: dist_sq = vn2 + sn2 − 2·dot can
        // round FP-negative for a vector ≈ its seed; unclamped, Spark
        // yields NaN→null silently while DuckDB's sqrt(<0) ABORTS —
        // the clamp (mirrored in the oracle) keeps both transports on
        // the same, correct value (true distance 0).
        expr("sqrt(greatest(da[0].dist_sq, 0d))").as("a"),
        expr("sqrt(greatest(filter(da, x -> x.cluster != da[0].cluster)[0].dist_sq, 0d))").as("b")
      )
      .select(
        col("cluster"),
        when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil")
      )
      .select(
        col("cluster"),
        expr("CAST(round(sil * 1000000.0) AS BIGINT)").as("s_q")
      )
    sil
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("s_q")).as("sum_sil_q"),
        sum(when(col("s_q") < 0L, 1L).otherwise(0L)).as("n_negative")
      )
      .withColumn(
        "mean_sil",
        col("sum_sil_q").cast("double") / lit(1000000.0) / col("n_vecs")
      )
  }

  /** Exact Rand index + adjusted Rand index between the k-means
    * clustering and the `label` partition — the standard external
    * clustering evaluation, computed ENTIRELY by pair counting over
    * the (cluster × label) contingency table so every intermediate is
    * an exact integer: index = Σᵢⱼ C(nᵢⱼ,2), marginal pair sums
    * sum_a/sum_b, total = C(n,2), RI·10⁶ as a non-negative floor-div,
    * and ARI = 2·(index·total − sum_a·sum_b) /
    * (total·(sum_a + sum_b) − 2·sum_a·sum_b) as the ONE IEEE division
    * (its numerator can be negative — the floor-div dialect seam).
    * ARI's factors are each cast to double BEFORE multiplying: the
    * n⁴-scale BIGINT products (idx_pairs·total_pairs etc.) exceed
    * 2⁶³ at only ~10⁵-10⁶ vectors, so integer products would wrap
    * while the oracle's HUGEINT stays exact. In double the ARI
    * degrades gracefully (53-bit mantissa on an O(1)-magnitude
    * ratio) instead of wrapping.
    *
    * Scale: the corpus collapses to the (K × #labels)-bounded
    * contingency table in one map-side-combined aggregate; everything
    * after is arithmetic over ≤ K·L rows, joined as one-row
    * broadcasts. The exact-integer columns (idx_pairs/sum_a/sum_b/
    * total_pairs, n²-scale) and the ri_ppm DECIMAL(38,0) floor-div
    * stay exact to ~4e9 rows; ARI is IEEE past 2⁵³ pair counts by
    * construction.
    */
  def clusterRandIndex(spark: SparkSession, dir: String): DataFrame = {
    // C(x,2) = x(x−1)/2: the product is even, so a right shift is the
    // exact integer halving (Column./ would plan a DOUBLE division)
    def c2(c: Column): Column = shiftright(c * (c - lit(1L)), 1)
    val asg = kmeansAssign(spark, dir).select(col("vec_id"), col("cluster"))
    val lab = emb(spark, dir).select(col("vec_id"), col("label").cast("bigint").as("label"))
    val ct = asg
      .join(lab, Seq("vec_id"))
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n_ij"))
      .localCheckpoint() // feeds the cell sum and both marginals
    val cells = ct.agg(
      sum(c2(col("n_ij"))).as("idx_pairs"),
      sum(col("n_ij")).as("n"),
      countDistinct(col("cluster")).as("n_clusters"),
      countDistinct(col("label")).as("n_labels")
    )
    val ma = ct.groupBy(col("cluster")).agg(sum(col("n_ij")).as("a_i"))
      .agg(sum(c2(col("a_i"))).as("sum_a"))
    val mb = ct.groupBy(col("label")).agg(sum(col("n_ij")).as("b_j"))
      .agg(sum(c2(col("b_j"))).as("sum_b"))
    cells
      .crossJoin(broadcast(ma))
      .crossJoin(broadcast(mb))
      .select(
        col("n"),
        col("n_clusters"),
        col("n_labels"),
        col("idx_pairs"),
        col("sum_a"),
        col("sum_b"),
        c2(col("n")).as("total_pairs")
      )
      .withColumn(
        "ri_ppm",
        expr(
          """CAST(CAST(total_pairs + 2 * idx_pairs - sum_a - sum_b AS DECIMAL(38,0))
            |     * 1000000 DIV total_pairs AS BIGINT)""".stripMargin
        )
      )
      .withColumn(
        "ari",
        {
          // Each factor is cast to double BEFORE multiplying: the raw
          // BIGINT products are n⁴-scale and would wrap past ~10⁵-10⁶
          // vectors even though every factor itself fits comfortably.
          val idx = col("idx_pairs").cast("double")
          val tot = col("total_pairs").cast("double")
          val sa = col("sum_a").cast("double")
          val sb = col("sum_b").cast("double")
          val den = tot * (sa + sb) - lit(2.0) * sa * sb
          when(den === lit(0.0), lit(0.0))
            .otherwise(lit(2.0) * (idx * tot - sa * sb) / den)
        }
      )
  }

  // ── Hybrid retrieval fusion (RRF) ──────────────────────────────────

  /** Standard RRF damping constant (Cormack/Clarke/Buettcher 2009). */
  val HybridRrfK0 = 60L

  /** Lexical arm depth: retrieve 2×TopK candidates so fusion has
    * lexical evidence below the semantic cut.
    */
  val HybridLexK = 10

  /** Lexical retrieval arm for the hybrid fusion: per-query
    * "more-like-this" BM25 — each query document's OWN distinct tokens
    * are the query terms, every other document is scored by the same
    * saturated-tf BM25 formulation as [[TextOps.bm25TopK]] (k1=1.2,
    * b=0.75, log-free idf), and the per-query top-[[HybridLexK]] list
    * is kept. Per-term scores are quantized to 1e-6 BEFORE the
    * per-document sum (integer SUM is order-independent, so dynamic
    * per-query term sets need no fixed-column pivot; the double s
    * itself is bit-identical to the oracle's, as the bm25_topk gate
    * established).
    *
    * Scale: the query slice is bounded ([[NumQueries]]) and BROADCAST;
    * postings are screened by the broadcast term set map-side, so only
    * matching-term postings shuffle, and df is aggregated over that
    * screened subset (df is per-term, so the restriction loses
    * nothing). The screen carries a df CAP ([[HybridDfCap]], the
    * rare-shingle discipline of `containmentPairs`): terms whose
    * posting exceeds the stopword threshold are dropped from the
    * broadcast term set BEFORE the score join — the df aggregate
    * itself is a map-side-combined count (safe on hot terms), but the
    * scored row volume is then bounded by Σ_t min(df(t), cap) instead
    * of Σ_t df(t), so one stopword in a query doc can no longer drag
    * a corpus-scale posting list through the join. The cap sits far
    * above any test-corpus df (max possible df = n_docs = 5000 at
    * sf0.1), so gate hashes are unchanged; at 100 TB it is the knob
    * that keeps the arm per-query-bounded. Memoized: the arm feeds
    * both the fused list and the recall sheet.
    */
  val HybridDfCap = 1000000L

  private[graft] def hybridLexArm(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "hybrid_lex_arm")(hybridLexArmBuild(spark, dir))

  private[graft] def hybridLexArmBuild(
      spark: SparkSession,
      dir: String,
      dfCap: Long = HybridDfCap): DataFrame = {
    import TextOps.{Bm25B, Bm25K1}
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
      .localCheckpoint() // ONE corpus tokenization: postings + globals + query slice
    val global = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val posting = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds df AND the score join
    val qterms = docs
      .filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"), explode(col("toks")).as("term"))
      .distinct()
    val df = posting
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap) // stopword screen: hot terms never reach the score join
    val scored = posting
      .join(broadcast(qterms.join(broadcast(df.select(col("term"))), Seq("term"))), Seq("term"))
      .filter(col("doc_id") =!= col("query_id")) // self-match excluded, like ANN
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(global))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn(
        "idf",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))
      )
      .withColumn(
        "s",
        col("idf") * (col("tf").cast("double") * lit(Bm25K1 + 1.0)) /
          (col("tf").cast("double") +
            lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") / col("avgdl")))
      )
      .withColumn("s_q", expr("CAST(round(s * 1000000.0) AS BIGINT)"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("lex_sq").desc, col("doc_id").asc)
    scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s_q")).as("lex_sq"))
      .withColumn("lex_rank", row_number().over(w).cast("bigint"))
      .filter(col("lex_rank") <= HybridLexK)
      .select(col("query_id"), col("doc_id"), col("lex_sq"), col("lex_rank"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion of the lexical BM25 arm
    * ([[hybridLexArm]]) and the semantic brute-force cosine arm (the
    * shared `ann_topk_brute` ARTIFACT) over the shared doc/vec id
    * universe (the `lexical_vs_semantic` bridge). Each arm contributes
    * ⌊10⁶/(k₀+rank)⌋ with k₀=[[HybridRrfK0]] — integer floor-div per
    * arm then integer sum, so the fused score is exact on both
    * transports; a doc absent from an arm contributes 0 (rank columns
    * report 0 for the absent arm). Top-[[TopK]] per query by
    * (rrf_q desc, doc_id asc).
    *
    * Scale: PURE COMPOSITION over two memoized k-bounded artifacts —
    * a (queries×k)-row full outer join plus one window; no corpus
    * pass happens here at any SF.
    */
  def hybridRrfTopK(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "hybrid_rrf_topk")(hybridRrfTopKBuild(spark, dir))

  private[graft] def hybridRrfTopKBuild(spark: SparkSession, dir: String): DataFrame = {
    val lex = hybridLexArm(spark, dir).select(col("query_id"), col("doc_id"), col("lex_rank"))
    val sem = bruteForceTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk").as("sem_rank"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf_q").desc, col("doc_id").asc)
    lex
      .join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(
        col("query_id"),
        col("doc_id"),
        col("lex_rank"),
        col("sem_rank"),
        // rrf from the RAW (nullable) ranks: an absent arm is a 0
        // contribution, NOT rank 0
        (coalesce(expr(s"1000000 DIV ($HybridRrfK0 + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 DIV ($HybridRrfK0 + sem_rank)"), lit(0L))).as("rrf_q")
      )
      .select(
        col("query_id"),
        col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0L)).as("sem_rank"),
        col("rrf_q")
      )
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= TopK)
  }

  /** Recall@[[TopK]] of the hybrid fused list and of the lexical arm
    * alone, against the brute-force cosine truth — the eval row that
    * prices what fusion buys over pure lexical retrieval (the
    * semantic arm IS the truth here, so its own row would read 10⁶
    * by construction and is omitted). Same sheet shape as
    * [[annRecall]]; all inputs are memoized artifacts, zero corpus
    * passes.
    */
  def hybridRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = bruteForceTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
    def row(method: String, approx: DataFrame): DataFrame = {
      val a = approx.select(col("query_id"), col("neighbor_id"))
      truth
        .agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(a.agg(count(lit(1)).as("n_approx"))))
        .crossJoin(broadcast(
          truth.join(a, Seq("query_id", "neighbor_id")).agg(count(lit(1)).as("n_hits"))))
        .select(
          lit(method).as("method"),
          col("n_truth"),
          col("n_approx"),
          col("n_hits"),
          expr("CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000 DIV n_truth AS BIGINT)")
            .as("recall_ppm")
        )
    }
    row(
      "lexical_arm",
      hybridLexArm(spark, dir)
        .filter(col("lex_rank") <= TopK)
        .select(col("query_id"), col("doc_id").as("neighbor_id"))
    ).unionAll(row(
      "hybrid_rrf",
      hybridRrfTopK(spark, dir).select(col("query_id"), col("doc_id").as("neighbor_id"))
    ))
  }

  /** Mean reciprocal rank of every approximate retriever on the board
    * — IVF, LSH, the lexical BM25 arm, and the hybrid fusion — against
    * the brute-force cosine truth: per query, the rank of the FIRST
    * relevant hit (relevant = a brute top-k member), rr = ⌊10⁶/rank⌋,
    * MRR = ⌊Σrr / #queries⌋ (a query with no relevant hit contributes
    * 0). Recall (how much) and MRR (how early) together are the
    * standard retrieval-eval pair; both are integer floor-div exact.
    *
    * Scale: PURE COMPOSITION over five memoized k-bounded artifacts —
    * four (queries×k)-row joins and #queries-row aggregates; zero
    * corpus passes.
    */
  def retrievalMrr(spark: SparkSession, dir: String): DataFrame = {
    val truth = bruteForceTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
    val nq = truth.agg(countDistinct(col("query_id")).as("n_queries"))
    def row(method: String, approx: DataFrame): DataFrame = {
      val h = approx
        .join(truth, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id"))
        .agg(min(col("rnk")).as("first_rank"))
        .select(expr("CAST(1000000 DIV first_rank AS BIGINT)").as("rr"))
      nq.crossJoin(broadcast(h.agg(
          count(lit(1)).as("n_hit_queries"),
          coalesce(sum(col("rr")), lit(0L)).as("sum_rr_ppm"))))
        .select(
          lit(method).as("method"),
          col("n_queries"),
          col("n_hit_queries"),
          col("sum_rr_ppm"),
          expr("CAST(sum_rr_ppm DIV n_queries AS BIGINT)").as("mrr_ppm")
        )
    }
    row("ivf", ivfLabelTopK(spark, dir).select(col("query_id"), col("neighbor_id"), col("rnk")))
      .unionAll(row("lsh",
        lshTopK(spark, dir).select(col("query_id"), col("neighbor_id"), col("rnk"))))
      .unionAll(row("lexical_arm",
        hybridLexArm(spark, dir)
          .select(col("query_id"), col("doc_id").as("neighbor_id"), col("lex_rank").as("rnk"))))
      .unionAll(row("hybrid_rrf",
        hybridRrfTopK(spark, dir)
          .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rnk"))))
  }

  /** nDCG@[[TopK]] of the same four retrievers against the brute
    * truth — the graded companion of [[retrievalMrr]] (MRR prices
    * only the FIRST hit; nDCG prices the whole ranking). The log₂
    * discount is the integer [[graft.functions.C64Kernel]] log the KN
    * LM uses: gain(r) = ⌊64·10⁹ / c64(r+1)⌋ (exactly 10⁹ at r = 1
    * since c64(2) = 64), dcg_q sums gain over relevant hits, the
    * ideal sums gain(1..|truth_q|), and the sheet reports
    * micro-averaged ndcg_ppm = Σdcg·10⁶ DIV Σidcg — no transcendental
    * anywhere, exact in both engines.
    *
    * Scale: pure composition over the same five memoized k-bounded
    * artifacts; the ideal explodes sequence(1, |truth_q|) over
    * #queries rows. Zero corpus passes.
    */
  def retrievalNdcg(spark: SparkSession, dir: String): DataFrame = {
    def gain(r: String): Column =
      expr(s"CAST(64000000000 DIV c64_log2($r + 1) AS BIGINT)")
    val truth = bruteForceTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
    val ideal = truth
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
      .select(explode(sequence(lit(1L), col("n_rel"))).as("i"))
      .select(gain("i").as("g"))
      .agg(sum(col("g")).as("sum_idcg"))
    def row(method: String, approx: DataFrame): DataFrame = {
      val dcg = approx
        .join(truth, Seq("query_id", "neighbor_id"))
        .select(gain("rnk").as("g"))
        .agg(coalesce(sum(col("g")), lit(0L)).as("sum_dcg"))
      dcg
        .crossJoin(broadcast(ideal))
        .select(
          lit(method).as("method"),
          col("sum_dcg"),
          col("sum_idcg"),
          expr("CAST(CAST(sum_dcg AS DECIMAL(38,0)) * 1000000 DIV sum_idcg AS BIGINT)")
            .as("ndcg_ppm")
        )
    }
    row("ivf", ivfLabelTopK(spark, dir).select(col("query_id"), col("neighbor_id"), col("rnk")))
      .unionAll(row("lsh",
        lshTopK(spark, dir).select(col("query_id"), col("neighbor_id"), col("rnk"))))
      .unionAll(row("lexical_arm",
        hybridLexArm(spark, dir)
          .select(col("query_id"), col("doc_id").as("neighbor_id"), col("lex_rank").as("rnk"))))
      .unionAll(row("hybrid_rrf",
        hybridRrfTopK(spark, dir)
          .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rnk"))))
  }
}
