package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text operators: the reference's two real analytics queries — word
  * count (`plugins/wc.go:22-43`) and inverted index
  * (`plugins/indexer.go:22-41`) — lifted onto the `documents` table,
  * plus the training-data-pipeline text analysis suite (language ID,
  * quality scoring, token counting, fingerprinting).
  *
  * All operators are pure column pipelines (whole-stage codegen, no
  * UDFs) and shuffle at most once, on the grouping key — at 100 TB the
  * token explode inflates rows ~100× but stays pipelined inside the
  * scan stage; partial aggregation collapses it before the shuffle.
  */
object TextOps {

  /** Tokens on non-letter boundaries — the reference's tokenizer
    * (`strings.FieldsFunc(c, !unicode.IsLetter)`, `plugins/wc.go:24-27`).
    * `split` yields empty strings at boundaries (FieldsFunc does not),
    * hence the filter.
    */
  def tokens(c: Column): Column =
    filter(split(c, "[^\\p{L}]+"), t => length(t) > 0)

  /** P1 word count over the corpus: (word, cnt) per distinct token. */
  def wordCount(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** P1 word count routed through the generic MapReduce kernel
    * (graft.engine.Engine + Apps.WordCount) with the documents table
    * as the corpus — proves the kernel itself against the same DuckDB
    * oracle as the DataFrame form.
    */
  def wordCountViaKernel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id").cast("string"), col("text"))
      .as[(String, String)]
    graft.engine.Engine
      .mapReduce(spark, input, graft.engine.Apps.WordCount)
      .select(col("key").as("word"), col("value").cast("bigint").as("cnt"))
  }

  /** P1 word count through the SQL-VISIBLE kernel map: real SQL text
    * runs the `mr_map('wc', file, contents)` Generator
    * ([[graft.functions.MrMapGen]]) over the corpus and reduces with
    * a plain GROUP BY — a SQL-only user running a plugin map with no
    * Scala API in sight (the reference's map contract,
    * `mr/types.go:56-58`, surfaced to SQL). Must hash-equal
    * `wc_kernel` (same oracle): the Generator and the kernel engine
    * are two transports of one plugin.
    *
    * Scale: the generate+aggregate pipeline partial-aggregates before
    * the shuffle (the kernel path's opaque reduce closure cannot), so
    * the SQL form shuffles (word, partial count) — strictly less than
    * the kernel's (word, "1")-per-occurrence exchange.
    */
  def wordCountViaSqlMap(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id").cast("string").as("file"), col("text"))
      .createOrReplaceTempView("graft_mr_input")
    // analyzed eagerly by sql(): the view binding cannot drift if a
    // later query re-registers the view for another data dir
    spark.sql(
      """SELECT key AS word, count(*) AS cnt
        |FROM (SELECT mr_map('wc', file, text) AS (key, value) FROM graft_mr_input)
        |GROUP BY key""".stripMargin)
  }

  /** P2 indexer routed through the generic MapReduce kernel
    * (Apps.Indexer, `plugins/indexer.go:22-41`) — proves the kernel's
    * collect-and-sort reduce shape under the same hash gate as the
    * DataFrame form. The kernel value is the reference's
    * `"<n> <d1,d2,...>"` string (doc ids sorted LEXICALLY, as the
    * reference sorts its filename strings); split into typed columns.
    */
  def invertedIndexViaKernel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id").cast("string"), col("text"))
      .as[(String, String)]
    graft.engine.Engine
      .mapReduce(spark, input, graft.engine.Apps.Indexer)
      .select(
        col("key").as("word"),
        split(col("value"), " ", 2).getItem(0).cast("bigint").as("n_docs"),
        split(col("value"), " ", 2).getItem(1).as("docs")
      )
  }

  /** P2 inverted index: word → number of docs + sorted doc-id posting
    * list (the reference formats `"<n> <d1,d2,...>"`; here the two
    * fields are separate typed columns).
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .distinct()
      .groupBy(col("word"))
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_set(col("doc_id"))), _.cast("string")), ",")
          .as("docs")
      )
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "los", "es", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta")
  )

  /** Language ID via marker-stopword counting (n-gram/stopword
    * heuristic): per doc, count tokens that are high-frequency function
    * words of each candidate language; predict the max with a fixed
    * preference order on ties. Deliberately simple + fully
    * deterministic so the DuckDB oracle can mirror it exactly.
    */
  /** Appends n_<lang> marker counts and the arg-max pred_lang to a df
    * with a "toks" column (shared by langId and langidConfusion).
    */
  private def withLangPred(base: DataFrame): DataFrame = {
    val withScores = langMarkers.foldLeft(base) { case (df, (lang, markers)) =>
      df.withColumn(
        s"n_$lang",
        size(filter(col("toks"), t => t.isin(markers.map(lit(_)): _*))).cast("bigint")
      )
    }
    val Seq(en, es, de, fr, zh) = langMarkers.map { case (l, _) => col(s"n_$l") }
    withScores.withColumn(
      "pred_lang",
      when(en >= es && en >= de && en >= fr && en >= zh, "en")
        .when(es >= de && es >= fr && es >= zh, "es")
        .when(de >= fr && de >= zh, "de")
        .when(fr >= zh, "fr")
        .otherwise("zh")
    )
  }

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
    withLangPred(base)
      .select(col("doc_id"), col("pred_lang"), col("n_en"), col("n_es"), col("n_de"),
        col("n_fr"), col("n_zh"))
  }

  /** Language-ID confusion matrix: predicted vs labeled language, one
    * pass (the prediction columns are appended inline, no self-join),
    * one tiny-group shuffle. The QA table that decides whether the
    * heuristic classifier is safe to route 100 TB of docs with.
    */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select(col("lang"), tokens(lower(col("text"))).as("toks"))
    withLangPred(base)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  private val stopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for")

  /** Quality scoring: length, punctuation density, stopword ratio,
    * mean word length — the standard cheap pre-filter signals of a
    * training-data pipeline. Pure per-row double arithmetic
    * (IEEE-deterministic; no rounding needed for oracle parity).
    */
  /** Appends n_words/n_punct/n_stop/stop_ratio/punct_ratio/quality to
    * any frame carrying `text` and `toks` columns — ONE definition of
    * the quality metric, shared by qualityScore and trainingPrep so
    * the filter a pipeline applies is exactly the score it reports.
    */
  private def withQualityCols(df: DataFrame): DataFrame = {
    df
      .withColumn("n_words", size(col("toks")).cast("bigint"))
      .withColumn(
        "n_punct",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("bigint")
      )
      .withColumn(
        "n_stop",
        size(filter(col("toks"), t => t.isin(stopwords.map(lit(_)): _*))).cast("bigint")
      )
      .withColumn(
        "stop_ratio",
        when(col("n_words") > 0, col("n_stop").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0))
      )
      .withColumn(
        "punct_ratio",
        when(length(col("text")) > 0,
          col("n_punct").cast("double") / length(col("text")).cast("double"))
          .otherwise(lit(0.0))
      )
      .withColumn(
        "quality",
        when(col("n_words") >= 5, lit(1.0)).otherwise(lit(0.0))
          * (lit(1.0) - col("punct_ratio"))
          * (lit(0.5) + col("stop_ratio"))
      )
  }

  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    withQualityCols(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), toks.as("toks"), col("text"))
    )
      .select(col("doc_id"), col("n_words"), col("n_punct"), col("n_stop"),
        col("stop_ratio"), col("punct_ratio"), col("quality"))
  }

  /** Per-source χ² divergence from the corpus unigram distribution —
    * the single-number "how unlike the corpus is this source" signal
    * that drives mixing weights / domain upsampling (the rational
    * cousin of KL: no logs, so every term is exact integer
    * arithmetic). For source s with N_s tokens in a corpus of N:
    *
    *   χ² = Σ_t (c_st·N − N_s·c_t)² / (N_s·c_t·N)
    *
    * split into the OBSERVED part (tokens s contains, one per-term
    * DECIMAL-mediated floor-div ppm, summed) and the ZERO part
    * (tokens s lacks, whose terms collapse algebraically to
    * N_s·(N − S_s)/N with S_s = the corpus count mass of s's
    * distinct tokens — ONE closed-form term, so the (source × vocab)
    * zero grid is never materialized). Both parts are defined
    * quantities with per-term flooring, mirrored verbatim in the
    * oracle.
    *
    * Scale: one map-side-combined (source, token) count shuffle, a
    * vocab-sized join on token (uniform keys), a ≤|sources| output.
    * The zero-grid shortcut is what makes this feasible at 100 TB —
    * the naive form is |sources|×|vocab| rows.
    */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), explode(tokens(lower(col("text")))).as("t"))
    val st = tok.groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st"))
      .localCheckpoint() // feeds corpus counts AND the per-source join
    val ct = st.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val n = st.agg(sum(col("c_st")).as("n"))
    st
      .join(ct, Seq("t"))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(n))
      .select(
        col("source"),
        col("n_s"),
        col("n"),
        col("c_t"),
        expr(
          """CAST((CAST(c_st AS DECIMAL(38,0)) * n - CAST(n_s AS DECIMAL(38,0)) * c_t) *
            |     (CAST(c_st AS DECIMAL(38,0)) * n - CAST(n_s AS DECIMAL(38,0)) * c_t) * 1000000
            |     DIV (CAST(n_s AS DECIMAL(38,0)) * c_t * n) AS BIGINT)""".stripMargin
        ).as("term_ppm")
      )
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_token_types"),
        sum(col("term_ppm")).as("chi2_obs_ppm"),
        // S_s = corpus mass of the source's distinct tokens
        sum(col("c_t")).as("s_mass"),
        max(col("n")).as("n_total")
      )
      .select(
        col("source"),
        col("n_tokens"),
        col("n_token_types"),
        col("chi2_obs_ppm"),
        expr(
          """CAST(CAST(n_tokens AS DECIMAL(38,0)) * (n_total - s_mass) * 1000000
            |     DIV n_total AS BIGINT)""".stripMargin
        ).as("chi2_zero_ppm")
      )
      .select(
        col("source"),
        col("n_tokens"),
        col("n_token_types"),
        col("chi2_obs_ppm"),
        col("chi2_zero_ppm"),
        (col("chi2_obs_ppm") + col("chi2_zero_ppm")).as("chi2_total_ppm")
      )
  }

  /** Quality-filter ↔ duplication calibration: per quality bin
    * (floor(decimal-quantized quality × 10) — the decimal-mediated
    * binning that survives engine float seams), how many docs sit in
    * the near-dup pair graph. THE question this answers: does the
    * cheap quality score already separate duplicated boilerplate
    * (low-quality bins with high dup ppm justify filtering BEFORE the
    * expensive dedup pass at 100 TB; flat ppm across bins means the
    * two passes are independent and both earn their keep).
    *
    * Scale: one corpus pass for quality (per-row arithmetic); dup
    * membership is two bounded projections of the memoized
    * `minhash_pairs` ARTIFACT (the pair-graph members are exactly the
    * cluster members — no component resolution needed); ≤16-bin
    * output, ppm DECIMAL-mediated.
    */
  def qualityVsDup(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(spark, dir).select(col("doc_id"), col("quality"))
    val pairs = DedupOps.minhashLsh(spark, dir)
    val dup = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("dup_flag", lit(1L))
    q.join(dup, Seq("doc_id"), "left")
      .select(
        expr("CAST(FLOOR(CAST(quality AS DECIMAL(18,2)) * 10) AS BIGINT)").as("q_bin"),
        coalesce(col("dup_flag"), lit(0L)).as("is_dup")
      )
      .groupBy(col("q_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dup"))
      .select(
        col("q_bin"),
        col("n_docs"),
        col("n_dup"),
        expr("CAST(CAST(n_dup AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
          .as("dup_ppm")
      )
  }

  val TrainingPrepMinQuality = 0.55

  /** The end-to-end training-data prep report — quality filter →
    * exact dedup (keepers only) → deterministic split → per-(split,
    * lang) counts. One pipeline composing the suite's operators, all
    * deterministic, so the whole thing sits under the hash gate.
    *
    * Scale shape: a single pass over the corpus computes quality +
    * fingerprint per row (no self-join — the quality columns are
    * appended inline), one shuffle on the fingerprint picks keepers,
    * one partial-agg shuffle produces the report. Per-row double
    * arithmetic is IEEE-exact on both engines, so the `quality >=
    * threshold` cut is bit-identical to the oracle's.
    */
  def trainingPrep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(lower(col("text")))
    val scored = withQualityCols(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"), toks.as("toks"))
    )
    val kept = scored
      .filter(col("quality") >= TrainingPrepMinQuality)
      .select(col("doc_id"), col("lang"), col("n_chars"), fingerprintExpr(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp"))
    kept
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper_id"))
      .select(splitExpr(col("doc_id")).as("split"), col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** The pipeline-yield FUNNEL: documents and tokens surviving each
    * cumulative prep stage — raw → quality cut → exact-dedup keeper →
    * near-dup cluster keeper → decontaminated — with doc/token yields
    * in ppm of raw. [[trainingPrep]] reports the final table; this is
    * the per-stage attrition sheet that tells a 100 TB pipeline owner
    * WHERE the mass goes (is the corpus shrinking at the cheap quality
    * cut or the expensive near-dup pass?) and therefore which stage to
    * re-order or re-tune — filters are cheapest first only if their
    * selectivities justify the ordering this sheet measures.
    *
    * Stage semantics (all deterministic, all composable from gated
    * operators): quality ≥ [[TrainingPrepMinQuality]]; exact keeper =
    * min doc_id per fingerprint AMONG quality survivors (one window
    * over the fingerprint partition — no join); near-dup keeper =
    * the cluster_keepers policy (best-quality member; docs outside
    * any cluster pass); decontaminated = not in the benchmark leak
    * report. Cluster labels and near-dup pairs are the session
    * ARTIFACTS — no extra corpus pass.
    *
    * Scale: one corpus scan computes quality + fingerprint + token
    * count per row; the fp window shuffles once on the fingerprint
    * (exact dedup's own shuffle); two pair-bounded left joins attach
    * keeper/contamination flags; the funnel itself is ONE aggregate
    * with 5×2 conditional slots + a `stack` unpivot (the
    * dup_growth_curve pattern). ppm DECIMAL-mediated.
    */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val toksC = tokens(lower(col("text")))
    val base = withQualityCols(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("text"), toksC.as("toks"))
    ).select(
      col("doc_id"),
      size(col("toks")).cast("bigint").as("n_toks"),
      (col("quality") >= TrainingPrepMinQuality).as("pass_q"),
      fingerprintExpr(col("text")).as("fp")
    )
    val w = Window.partitionBy(col("fp"))
    val k = base.withColumn(
      "is_keeper",
      col("doc_id") === min(when(col("pass_q"), col("doc_id"))).over(w)
    )
    val ck = GraphOps.clusterKeepers(spark, dir).select(col("doc_id"), col("keep"))
    val dc = DedupOps
      .decontaminate(spark, dir)
      .select(col("train_doc").as("doc_id"), lit(true).as("dirty"))
    val conds = {
      val c2 = col("pass_q")
      val c3 = c2 && col("is_keeper")
      val c4 = c3 && coalesce(col("keep"), lit(true))
      val c5 = c4 && col("dirty").isNull
      Seq(lit(true), c2, c3, c4, c5)
    }
    val slots = conds.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        sum(when(c, 1L).otherwise(0L)).as(s"s${i + 1}"),
        sum(when(c, col("n_toks")).otherwise(0L)).as(s"t${i + 1}")
      )
    }
    val one = k
      .join(ck, Seq("doc_id"), "left")
      .join(dc, Seq("doc_id"), "left")
      .agg(slots.head, slots.tail: _*)
    val names = Seq("raw", "quality", "exact_dedup", "near_dup", "decontam")
    val stackArgs = names.zipWithIndex.map { case (nm, i) =>
      val (s, t) = (s"s${i + 1}", s"t${i + 1}")
      s"CAST(${i + 1} AS BIGINT), '$nm', $s, $t, " +
        s"CAST(CAST($s AS DECIMAL(38,0)) * 1000000 DIV s1 AS BIGINT), " +
        s"CASE WHEN t1 = 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE CAST(CAST($t AS DECIMAL(38,0)) * 1000000 DIV t1 AS BIGINT) END"
    }.mkString(", ")
    one.select(expr(
      s"stack(${names.size}, $stackArgs) " +
        "AS (stage_idx, stage, n_docs, n_tokens, doc_yield_ppm, token_yield_ppm)"))
  }

  /** Token counting: whitespace tokens, BPE-ish subword pieces (letter
    * runs / digits / single other glyphs), and the chars/4 estimate.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0)).cast("bigint").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[\\p{L}]+|[0-9]|[^\\p{L}0-9\\s]"), lit(0)))
          .cast("bigint").as("bpe_tokens"),
        ceil(col("n_chars").cast("double") / 4.0).cast("bigint").as("est_tokens")
      )
  }

  val ChunkLen = 32
  val ChunkStride = 16

  /** Sequence chunking with overlap: sliding token windows of
    * ChunkLen tokens every ChunkStride, the standard way long
    * documents become fixed-size training sequences without losing
    * cross-boundary context. Windows start at 0, ChunkStride, … and
    * stop at the last start that still contributes a new token
    * (start + ChunkLen − ChunkStride < n_toks); the final window is
    * simply shorter rather than padded. All per-row: a codegen
    * `sequence` + `explode` fans each doc out to its ~n/stride chunk
    * descriptors with no shuffle at all — at 100 TB this is a pure
    * map stage, and downstream repartitioning (e.g. seq_packing's
    * per-source bins) is the only exchange.
    */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
          .cast("bigint").as("n_toks")
      )
    docs
      .select(
        col("doc_id"),
        col("n_toks"),
        explode(
          sequence(
            lit(0L),
            greatest(lit(0L), col("n_toks") - lit(ChunkLen.toLong - ChunkStride + 1)),
            lit(ChunkStride.toLong)
          )
        ).as("start_tok")
      )
      .select(
        col("doc_id"),
        (col("start_tok") / lit(ChunkStride.toLong)).cast("bigint").as("chunk_idx"),
        col("start_tok"),
        least(lit(ChunkLen.toLong), col("n_toks") - col("start_tok")).as("chunk_toks")
      )
  }

  /** TF-IDF top terms per document. IDF uses the rational form
    * (N+1)/(df+1) rather than its logarithm: ln() is not guaranteed
    * identically rounded across engines (Java Math.log permits 1 ulp),
    * while division is IEEE-exact — rankings are identical either way
    * since ln is monotone.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posting = Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("word"))
    val tf = posting.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = posting
      .groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = posting.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf
      .join(df, Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        col("tf").cast("double") * ((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double"))
      )
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("tfidf"), col("rnk"))
  }

  /** Deterministic train/val/test assignment: hash-bucket each doc by
    * md5 of its id into 100 buckets — buckets 0-79 train, 80-89 val,
    * 90-99 test. This is how a training pipeline actually splits data
    * at scale: no sampling state, no seed coordination, stable under
    * re-runs, joins, and corpus growth (a doc's split never changes
    * when other docs arrive — the property random sampling lacks).
    * Hashing the ID (not the text) keeps exact near-duplicate handling
    * orthogonal: dedup first, then split.
    *
    * Output: per (split, lang) doc counts + total chars — the sanity
    * report every split job emits; the per-doc assignment is
    * `splitExpr`. Pure column pipeline, one shuffle on (split, lang).
    */
  def splitBucket(c: Column): Column =
    (conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long") % 100).cast("int")

  def splitExpr(c: Column): Column = {
    val b = splitBucket(c)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  def dataSplit(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(splitExpr(col("doc_id")).as("split"), col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Split-leakage report: NEAR-duplicate pairs (MinHash, jaccard >=
    * 0.7) bucketed by the split assignment of their two ends — the
    * contamination an id-keyed split permits when near-identical
    * content carries distinct ids (the eval answer leaks into
    * training). Off-diagonal cells (split_a != split_b) are the leak;
    * the fix when it matters is splitting on a content key (cluster
    * canonical id) instead of the doc id, and this matrix quantifies
    * how much that buys. Split assignment is a pure function of the
    * id, so no join — just a projection over the pair list.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.DedupOps
      .minhashLsh(spark, dir)
      .select(splitExpr(col("doc_a")).as("split_a"), splitExpr(col("doc_b")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Whitespace/case normalization — THE canonical text identity used
    * by both doc_fingerprint and DedupOps.exactDedup (one definition so
    * the fingerprint and the dedup key cannot drift apart).
    */
  def normText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** The exact-dedup key: md5 of the normalized text. */
  def fingerprintExpr(c: Column): Column = md5(normText(c))

  /** Document fingerprinting: md5 of whitespace/case-normalized text
    * (the exact-dedup key) plus a 60-bit numeric fingerprint (first 15
    * hex digits) for compact storage/joins at scale.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = normText(col("text"))
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        md5(norm).as("fp_md5"),
        conv(substring(md5(norm), 1, 15), 16, 10).cast("bigint").as("fp60")
      )
  }

  /** Gopher/C4-style repetition filters: per-doc token stats that flag
    * degenerate documents (the repetition axis quality_score doesn't
    * cover). All measures are INTEGER (counts, ratios as cross-
    * multiplied integer comparisons) so the gate is exact on any
    * engine.
    *
    *   - top_n: occurrences of the most frequent token (tiebreak: the
    *     lexicographically smallest such token is reported);
    *   - max_run: longest run of consecutive identical tokens
    *     (gaps-and-islands over the token stream — same one-shuffle
    *     window shape as sessionize, partitioned by doc);
    *   - keep: n_words >= 20 AND top_n/n_words <= 0.2 AND
    *     5*n_distinct >= n_words AND max_run <= 2.
    *
    * Scale: the token stream shuffles ONCE on doc_id for the run
    * windows; token counts partial-aggregate map-side. No per-doc
    * value collection anywhere.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val toks = docs.select(
      col("doc_id"),
      posexplode(tokens(lower(col("text")))).as(Seq("pos", "tok"))
    )
    val tc = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val wTop = Window.partitionBy(col("doc_id")).orderBy(col("c").desc, col("tok").asc)
    val top = tc
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("tok").as("top_word"), col("c").as("top_n"))
    val totals = tc
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_distinct"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val runs = toks
      .withColumn(
        "brk",
        when(lag(col("tok"), 1).over(wDoc) === col("tok"), 0L).otherwise(1L)
      )
      .withColumn(
        "run_id",
        sum(col("brk")).over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      )
      .groupBy(col("doc_id"), col("run_id"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(max(col("run_len")).as("max_run"))
    // left joins from the full corpus: a doc with zero tokens must
    // surface as keep=false, not vanish
    Tables
      .documents(spark, dir)
      .select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .join(runs, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("top_word"), lit("")).as("top_word"),
        coalesce(col("top_n"), lit(0L)).as("top_n"),
        coalesce(col("max_run"), lit(0L)).as("max_run")
      )
      .withColumn(
        "keep",
        col("n_words") >= 20 &&
          col("top_n") * 5 <= col("n_words") &&
          col("n_distinct") * 5 >= col("n_words") &&
          col("max_run") <= 2
      )
  }

  /** Domain-mixing downsample: each source gets a deterministic target
    * retention rate (20-99%, derived from the md5 of the source name —
    * a stand-in for the curated per-domain weights a real mixture
    * uses), and docs are kept by the same id-hash coin as dataSplit.
    * Pure projections + one aggregation; the sample is reproducible
    * row-for-row on any engine and any partitioning.
    */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val weight =
      (conv(substring(md5(col("source")), 1, 15), 16, 10).cast("long") % 80 + 20).as("weight_pct")
    val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    Tables
      .documents(spark, dir)
      .select(col("source"), weight, coin.as("coin"), col("n_chars"))
      .groupBy(col("source"), col("weight_pct"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("coin") < col("weight_pct"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("coin") < col("weight_pct"), col("n_chars")).otherwise(lit(0L)))
          .as("sampled_chars")
      )
  }

  /** Vocabulary nucleus (top-p coverage): rank tokens by corpus
    * frequency and keep the smallest prefix covering 90% of all token
    * occurrences — the vocabulary-construction / coverage-analysis
    * primitive of a tokenizer-training pipeline.
    *
    * Scale shape: the corpus-sized work is one map-side-combined
    * count aggregation; the global windows then run over the VOCABULARY
    * (types, not tokens — millions of rows at web scale, not
    * trillions), which is the standard single-partition tail every
    * rank-by-global-frequency job has. The prefix cut compares pure
    * integers ((cum-cnt)*10 < total*9), so no float threshold ambiguity.
    */
  def vocabNucleus(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    // Range-partitioned rank+prefix-sum composition (RankOps): the
    // global frequency order is exact but never a single-task sort;
    // the grand total arrives with the partition ledger (no extra
    // pass, no corpus-wide window).
    val (ranked, total) = RankOps.withGlobalRankAndRunningSum(
      counts, col("cnt"), "rnk", "cum", Seq(col("cnt").desc, col("token").asc))
    ranked
      .filter((col("cum") - col("cnt")) * 10 < lit(total) * 9)
      .select(
        col("token"),
        col("cnt"),
        col("rnk"),
        (col("cum").cast("double") / lit(total).cast("double")).as("cum_share")
      )
  }

  /** Per-document out-of-vocabulary rate against the 90%-mass nucleus
    * vocabulary (vocabNucleus) — the "how much of this doc will my
    * tokenizer shred into rare pieces" metric that gates docs before
    * expensive tokenization. Two corpus passes by construction (one
    * builds the global vocab, one scores docs against it — the same
    * shape every tokenizer-coverage job has); the vocab is
    * types-sized, so the membership join broadcasts. The left join +
    * count(match) keeps zero-OOV docs and all-OOV docs exact.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val vocab = vocabNucleus(spark, dir).select(col("token"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .join(vocab, col("tok") === col("token"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        count(col("token")).as("n_in_vocab")
      )
      .select(
        col("doc_id"),
        col("n_toks"),
        (col("n_toks") - col("n_in_vocab")).as("n_oov"),
        ((col("n_toks") - col("n_in_vocab")).cast("double") / col("n_toks").cast("double"))
          .as("oov_rate")
      )
  }

  /** Bigram transition model: top-3 next tokens per head token with
    * maximum-likelihood transition probability — the n-gram LM /
    * next-token-statistics primitive. Bigrams are built per row by the
    * codegen `word_ngrams` expression (tokens never leave their
    * document), so the only corpus-sized shuffle is the (head, nxt)
    * count aggregation; the rank/total windows partition by head and
    * skew is bounded by the vocabulary's most-followed token.
    */
  def bigramTransitions(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(2))
        ).as("bg")
      )
      .select(
        split(col("bg"), " ").getItem(0).as("head"),
        split(col("bg"), " ").getItem(1).as("nxt")
      )
      .groupBy(col("head"), col("nxt"))
      .agg(count(lit(1)).as("cnt"))
    val wHead = Window.partitionBy(col("head"))
    counts
      .withColumn("head_total", sum(col("cnt")).over(wHead))
      .withColumn(
        "rnk",
        row_number().over(wHead.orderBy(col("cnt").desc, col("nxt").asc)).cast("long")
      )
      .filter(col("rnk") <= 3)
      .select(
        col("head"),
        col("nxt"),
        col("cnt"),
        col("rnk"),
        (col("cnt").cast("double") / col("head_total").cast("double")).as("p")
      )
  }

  val BudgetTokensPerLang = 2000L

  /** Token-budget corpus selection: per language, keep the
    * highest-quality documents until a token budget fills — the
    * "curate the best N tokens per language" step that follows
    * scoring in a training-data pipeline. Selection is a running sum
    * over the (quality DESC, doc_id) order within each language
    * partition: one window sort per language, no self-join, no
    * global order. doc_id tiebreak makes the cut deterministic even
    * where quality values tie. The report aggregates what survived;
    * MIN(quality) is the effective admission cutoff each language
    * paid for its budget.
    */
  def budgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    val scored = withQualityCols(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), toks.as("toks"), col("text"))
    )
      .select(
        col("doc_id"),
        col("lang"),
        col("quality"),
        ceil(col("n_chars").cast("double") / 4.0).cast("bigint").as("est_tokens")
      )
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_toks", sum(col("est_tokens")).over(w))
      .filter(col("cum_toks") <= BudgetTokensPerLang)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("est_tokens")).as("kept_tokens"),
        min(col("quality")).as("cutoff_quality")
      )
  }

  /** Bigram-LM document scoring: score every document by the corpus's
    * own bigram transition model — the statistical stand-in for
    * "perplexity filtering" (docs whose transitions the corpus finds
    * improbable score low). Two passes over the bigram stream: one
    * builds the maximum-likelihood model (count shuffle + a per-head
    * window), one joins each document's bigrams back to their model
    * probability (equi-join on the bigram; the model is vocabulary²-
    * bounded, so AQE broadcasts it while it fits). The bigram stream
    * feeds both passes, so it is localCheckpoint'd once — the same
    * multi-consumer materialization the dedup pipelines use.
    *
    * Oracle-parity: per-bigram p = cnt/head_total is one IEEE double
    * division (exact both engines); the cross-row mean goes through
    * round(p·1e9) fixed-point BIGINT sums (order-independent exact —
    * the label_centroids discipline), and MIN(p) needs no care.
    */
  def lmDocScore(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(2))
        ).as("bg")
      )
      .select(
        col("doc_id"),
        split(col("bg"), " ").getItem(0).as("head"),
        split(col("bg"), " ").getItem(1).as("nxt")
      )
      .localCheckpoint()
    val model = bigrams
      .groupBy(col("head"), col("nxt"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("head_total", sum(col("cnt")).over(Window.partitionBy(col("head"))))
      .select(
        col("head"),
        col("nxt"),
        (col("cnt").cast("double") / col("head_total").cast("double")).as("p")
      )
    bigrams
      .join(model, Seq("head", "nxt"))
      .select(col("doc_id"), round(col("p") * 1e9).cast("bigint").as("qp"), col("p"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("qp")).as("sum_qp"),
        min(col("p")).as("min_p")
      )
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("sum_qp"),
        (col("sum_qp").cast("double") / col("n_bigrams").cast("double") / 1e9).as("avg_p"),
        col("min_p")
      )
  }

  /** Typo-candidate pairs: distinct corpus tokens (length >= 4) within
    * edit distance 2 of each other — the spelling-normalization /
    * fuzzy-key-matching primitive of a text-cleaning pipeline.
    *
    * Candidate-then-verify, the repo-wide near-dup discipline, via the
    * SymSpell deletion neighborhood: every type emits its ≤2-deletion
    * variants as keys, candidates are the pairs sharing a key, and the
    * threshold-bounded `levenshtein(a, b, 2)` (2-wide band, O(len)
    * inner loop) verifies. NEVER a vocabulary cross join: V is types
    * (10⁷–10⁸ at a 100 TB web corpus — typos and codepoint junk), so
    * V² is 10¹⁴⁺ and a hard scale-killer; the deletion join carries
    * O(V·L²) key rows instead, type-bounded like the shingle postings.
    *
    * Completeness (why the candidate set is a SUPERSET of every
    * dist ≤ 2 pair): for Levenshtein distance d(a,b) = d, deleting the
    * ≤ d edited positions from each side yields a COMMON string
    * reachable by ≤ d deletions from both — a substitution deletes its
    * position from both sides, an insertion deletes the inserted char
    * from the longer side only — so every true pair shares a deletion
    * key (the OperatorsSpec test brute-forces this against the full V²
    * at sf0.001). Keys join by 60-bit md5 fingerprint; a collision can
    * only ADD candidates (the verify kills any dist > 2 survivor), so
    * exactness is unconditional.
    */
  def typoPairs(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) >= 4)
      .distinct()
    // All 1-deletion variants of s (length ≥ 3 wherever applied here).
    def del1(s: Column): Column =
      transform(
        sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - lit(1)), s.substr(i + lit(1), length(s)))
      )
    val t = col("token")
    val keys = array_distinct(
      concat(array(t), del1(t), flatten(transform(del1(t), s => del1(s))))
    )
    val cand = vocab.select(
      t,
      explode(keys).as("k")
    ).select(t, conv(substring(md5(col("k")), 1, 15), 16, 10).cast("bigint").as("k_fp"))
    cand
      .select(t.as("token_a"), col("k_fp"))
      .join(cand.select(t.as("token_b"), col("k_fp")), Seq("k_fp"))
      .filter(col("token_a") < col("token_b"))
      .select(col("token_a"), col("token_b"))
      .distinct()
      .select(
        col("token_a"),
        col("token_b"),
        levenshtein(col("token_a"), col("token_b"), 2).cast("long").as("dist")
      )
      .filter(col("dist") >= 1 && col("dist") <= 2)
  }

  /** Spelling CANONICALIZATION map — the cleaning-pipeline step that
    * APPLIES [[typoPairs]]: each ≥4-char type rewrites to its most
    * frequent edit-distance-≤2 neighbor when that neighbor is
    * STRICTLY more frequent (ties never rewrite, so the map cannot
    * flap between equal-count variants and canonical forms are fixed
    * points — their best neighbor is never strictly heavier than
    * every token they absorb... they simply have no heavier
    * neighbor). Selection per token: heaviest candidate first, then
    * nearest (dist asc), then lexicographic — one deterministic
    * winner per engine.
    *
    * Scale: candidates are [[typoPairs]]' SymSpell deletion join
    * (never V²); counts are one map-side-combined token agg; the
    * winner is a token-keyed top-1 window — VOCABULARY-keyed (high
    * cardinality, each group a handful of candidates), which is the
    * partitioning regime where a plain window IS the scale-safe plan,
    * and WindowGroupLimit prunes to 1 row per token before the
    * exchange.
    */
  /** Session-memoized canonicalization map — VOCABULARY-bounded (one
    * row per rewritable type, the registry's type-bounded class),
    * shared by the standalone readout and the round-11 cleaning-stage
    * application ([[canonicalizedClean]]) so the map builds once per
    * corpus snapshot.
    */
  private[graft] def typoRewriteMapArtifact(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "typo_rewrite_map")(typoRewrite(spark, dir))

  def typoRewrite(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) >= 4)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    val pairs = typoPairs(spark, dir)
    val directed = pairs
      .select(col("token_a").as("token"), col("token_b").as("cand"), col("dist"))
      .unionAll(
        pairs.select(col("token_b").as("token"), col("token_a").as("cand"), col("dist")))
    val w = Window
      .partitionBy(col("token"))
      .orderBy(col("canon_cnt").desc, col("dist").asc, col("cand").asc)
    directed
      .join(counts, Seq("token"))
      .join(
        counts.select(col("token").as("cand"), col("cnt").as("canon_cnt")),
        Seq("cand"))
      .filter(col("canon_cnt") > col("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("token"), col("cnt"), col("cand").as("canon"),
        col("canon_cnt"), col("dist"))
  }

  /** Docs kept per source by the stratified sampler. */
  val StratifiedK = 10

  /** Stratified fixed-size sample: exactly k docs per source, chosen
    * by md5(doc_id) order — a deterministic "random" that any engine
    * reproduces and that stays stable under corpus growth (a doc's
    * hash never changes; it is displaced only by new docs hashing
    * lower). Complements domain_mix (rate-based sampling) with the
    * fixed-quota form evaluation sets want.
    *
    * Scale shape: the rank-&le;-k filter plans as WindowGroupLimit —
    * each map task keeps only k rows per source before the shuffle,
    * so the exchange carries O(k x sources x tasks), not the corpus.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("source")).orderBy(col("h").asc, col("doc_id").asc)
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), h.as("h"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= StratifiedK)
      .select(col("source"), col("rank"), col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Sketch capacity for the heavy-hitters query. Far above the test
    * corpus vocabulary, so the sketch is exact and oracle-checkable
    * here; at 100 TB the same capacity bounds every aggregation
    * buffer at 4096 entries and the answer carries err <= N/4096
    * per-item bounds instead.
    */
  val HeavyHitterCapacity = 4096

  /** Top tokens by corpus frequency via the SpaceSaving sketch — the
    * bounded-memory form of "what are the most common URLs/n-grams/
    * tokens". The exact form shuffles one row per distinct key; the
    * sketch caps every partial aggregate at `capacity` entries
    * regardless of key cardinality and merges like any aggregation
    * buffer (see functions/SpaceSaving.scala for the guarantees).
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .agg(
        graft.functions.SpaceSaving
          .spaceSaving(col("token"), lit(HeavyHitterCapacity))
          .as("sk")
      )
      .select(explode(col("sk")).as("e"))
      .select(col("e.token").as("token"), col("e.cnt").as("cnt"), col("e.err").as("err"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(25)
  }

  /** Frequency-of-frequency spectrum (the Zipf sanity report): how
    * many token TYPES occur with counts in each power-of-two band,
    * and the token mass those bands carry. The corpus-health check a
    * tokenizer-training run looks at first — a healthy natural-text
    * corpus shows the Zipf staircase; boilerplate floods the top band,
    * OCR noise floods band 1. Banding is integer-exact on both
    * engines (band = number of binary digits of the count, not a
    * float log2, whose rounding at exact powers of two is
    * engine-specific). Shape: the corpus-sized shuffle is the word
    * count; the spectrum is a second ~|vocab|-row aggregate with
    * map-side combine into <= 64 groups.
    */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame = {
    wordCount(spark, dir)
      .select(col("cnt"), length(bin(col("cnt"))).cast("bigint").as("band"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_tokens"),
        min(col("cnt")).as("min_cnt"),
        max(col("cnt")).as("max_cnt")
      )
  }

  val ShuffleSeed = "shuffle-seed-1:"
  val NShards = 8

  /** Reproducible training-order sharding: every doc gets a shuffle
    * key = md5(seed || doc_id) and a shard = key's first byte mod 8 —
    * the "write N globally-shuffled shards" step before training.
    * Deterministic on any engine/partitioning (pure key arithmetic,
    * no RNG), resumable (re-runs produce identical shards), and
    * shuffle-free here: shard assignment is a map, the report is one
    * aggregate. At 100 TB the actual write is partitionBy(shard) on
    * the same expression; within-shard order = the shuffle key, so a
    * reader streaming shard files in key order sees a uniform random
    * permutation. The report's per-shard doc/char balance (uniform
    * md5 ⇒ ±small%) and key ranges are the operational check.
    */
  def shuffleShards(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(concat(lit(ShuffleSeed), col("doc_id").cast("string")))
    Tables
      .documents(spark, dir)
      .select(
        (conv(substring(key, 1, 2), 16, 10).cast("bigint") % NShards).as("shard"),
        col("n_chars"),
        key.as("k")
      )
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("k")).as("first_key"),
        max(col("k")).as("last_key")
      )
  }

  /** Token budget per packed sequence bin. */
  val PackBudget = 512L

  /** Sequence packing: assign documents to fixed-token-budget bins —
    * the "pack short documents into one context window" step that sits
    * between dedup and tokenization in a training pipeline. Streaming
    * first-fit in doc_id order: a doc lands in the bin its cumulative
    * start offset falls in, so a bin can overflow by at most its last
    * doc (the standard greedy packer; flagged per bin). Packing runs
    * PER SOURCE — each source is an independent packing domain, so the
    * ordered cumsum is a window partitioned by source, not a global
    * single-partition sort. At 100 TB the per-source window is the
    * parallel unit (pipelines shard further by date/file for the same
    * reason); the busiest single source bounds skew, same contract as
    * sessionize.
    */
  /** Per-doc packing assignment (shared by seqPacking's bin report and
    * packOffsets' manifest): cumulative token start per source, bin =
    * start div budget.
    *
    * The BPE-ish token count is deliberately free of `\s` / `\p{L}`:
    * those classes are defined by the regex engine's Unicode-table
    * vintage (Java's `\s` includes \x0B, RE2's doesn't; `\p{L}` moves
    * with the bundled Unicode version), so an oracle running on a
    * different engine build can disagree on exotic input. Instead,
    * anything outside printable ASCII is first mapped to a space (one
    * replacement per UTF-16 unit or per code point both erase the
    * whole character, so engines agree on the result string), and the
    * tokenizer itself uses only explicit ASCII classes that mean the
    * same thing in every engine ever shipped.
    */
  /** BPE-ish token count with only explicit ASCII classes — the
    * engine-stable tokenizer shared by the packing family and
    * padding_waste (see packAssign's scaladoc for why `\s`/`\p{L}`
    * are banned here).
    */
  private[graft] def packTokenCount(c: Column): Column =
    size(
      regexp_extract_all(
        regexp_replace(c, "[^ -~]", " "),
        lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"),
        lit(0)
      )
    ).cast("bigint")

  private[graft] def packAssign(spark: SparkSession, dir: String): DataFrame = {
    // The per-source cumulative offset runs through RankOps'
    // range-partitioned grouped running sum (round 10): a plain
    // source-keyed window here is |sources| corpus-length sort tasks —
    // the round-9 weak class — while the grouped composition sums at
    // full parallelism, bit-identically (integer addition, strict
    // doc_id order within source).
    RankOps
      .withGroupRunningSum(
        Tables
          .documents(spark, dir)
          .select(
            col("doc_id"),
            col("source"),
            packTokenCount(col("text")).as("n_tokens")
          ),
        Seq(col("source")),
        col("n_tokens"),
        "cum",
        Seq(col("doc_id"))
      )
      // integer div, not floor(double): bit-exact bin ids in any engine
      .withColumn("bin", expr(s"(cum - n_tokens) div $PackBudget"))
  }

  def seqPacking(spark: SparkSession, dir: String): DataFrame = {
    packAssign(spark, dir)
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc")
      )
      .withColumn("overflowed", col("bin_tokens") > PackBudget)
  }

  /** The writer manifest seq_packing implies: for every document, its
    * bin and token offset INSIDE that bin — exactly what a shard
    * writer needs to lay docs into packed context windows, and what a
    * loader needs to find them again. Same single grouped running-sum
    * pass as seqPacking (the offset is the cumulative start minus the
    * bin's base), so the manifest costs nothing beyond the assignment
    * it already computes.
    */
  def packOffsets(spark: SparkSession, dir: String): DataFrame = {
    packAssign(spark, dir)
      .select(
        col("doc_id"),
        col("source"),
        col("bin"),
        (col("cum") - col("n_tokens") - col("bin") * PackBudget).as("offset_tokens"),
        col("n_tokens")
      )
  }

  /** Tokenizer-aware packing (round 11): [[seqPacking]]'s capacity
    * sheet priced in REAL BPE tokens instead of the whitespace-class
    * proxy — what a training run actually packs. NO corpus re-encode:
    * the per-TYPE symbol cost comes off the memoized BPE fit
    * ([[bpeEncode]]'s discipline — each distinct word encodes once);
    * the corpus contributes only (doc, word-fp) occurrence counts,
    * joined by 60-bit fingerprint so word strings never shuffle at
    * corpus volume; docs with zero letter tokens pack at zero width
    * off the LEFT spine. Same grouped running-sum assignment
    * ([[RankOps.withGroupRunningSum]]) and the same [[PackBudget]] as
    * the proxy sheet, so the two sheets are directly comparable per
    * (source, bin).
    */
  def seqPackingBpe(spark: SparkSession, dir: String): DataFrame = {
    val fpc = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val enc = bpeFitArtifacts(spark, dir)._2
      .select(
        fpc(col("word")).as("w_fp"),
        size(split(trim(col("seq")), " ")).cast("long").as("n_syms"))
    val perDoc = Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .select(col("doc_id"), fpc(col("word")).as("w_fp"))
      .groupBy(col("doc_id"), col("w_fp"))
      .agg(count(lit(1)).as("cnt"))
      .join(enc, Seq("w_fp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("n_syms")).as("n_tokens"))
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    RankOps
      .withGroupRunningSum(
        docs, Seq(col("source")), col("n_tokens"), "cum", Seq(col("doc_id")))
      .withColumn("bin", expr(s"(cum - n_tokens) div $PackBudget"))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("overflowed", col("bin_tokens") > PackBudget)
  }

  /** Global percentile WITHOUT a global sort — the "where does each
    * doc sit in the corpus-wide quality distribution" primitive,
    * computed scale-safely: a single-partition window over N rows is
    * the classic 100 TB killer, so scores are binned to a fixed 1e-4
    * grid (data-independent, <= ~20k bins at any corpus size), the
    * running count rides a window over DISTINCT BINS only, and each
    * doc joins its bin's below-count back. Exact integers end to end;
    * pct_below = docs in strictly-lower bins / corpus.
    */
  def qualityPercentile(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    val scored = withQualityCols(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), toks.as("toks"), col("text"))
    ).select(col("doc_id"),
      expr("CAST(round(quality * 10000.0) AS BIGINT)").as("q4"))
    val bins = scored.groupBy(col("q4")).agg(count(lit(1)).as("cnt"))
    val wBins = Window.orderBy(col("q4").asc) // distinct-bin-sized, not corpus-sized
    val below = bins
      .withColumn("cum", sum(col("cnt")).over(
        wBins.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("q4"), (col("cum") - col("cnt")).as("n_below"), col("cnt").as("bin_n"))
    val total = scored.agg(count(lit(1)).as("n_total"))
    scored
      .join(below, Seq("q4"))
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"),
        col("q4"),
        col("n_below"),
        col("bin_n"),
        (col("n_below").cast("double") / col("n_total").cast("double")).as("pct_below")
      )
  }

  /** Count-Min point-frequency check: sketch the token stream once
    * (d=4 × w=1024 counters — fixed memory at any vocabulary size),
    * then probe the exact top-20 tokens against it. Like approx_stats
    * and hll_user_reach, sketch internals are engine-specific so the
    * gate is CERTIFICATES: no_undercount (the CM hard guarantee) and
    * within_eps (est <= exact + ceil(e·N/w)). The sketch and the total
    * ride ONE aggregate; estimates evaluate against the broadcast
    * one-row sketch, never per corpus row.
    */
  def cmTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .localCheckpoint() // feeds the sketch pass and the exact top-20
    val sk = toks.agg(
      graft.functions.CountMin.cmSketch(col("token"), lit(4), lit(1024)).as("sk"),
      count(lit(1)).as("n_total")
    )
    val top = toks
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(20)
    top
      .crossJoin(broadcast(sk))
      .withColumn("est", graft.functions.CountMin.cmEstimate(col("sk"), col("token")))
      .select(
        col("token"),
        col("cnt"),
        (col("est") >= col("cnt")).as("no_undercount"),
        (col("est") <= col("cnt") +
          expr("CAST(ceil(2.718281828 * n_total / 1024.0) AS BIGINT)")).as("within_eps")
      )
  }

  val BpeTopK = 25

  /** BPE merge-candidate counting (one iteration of byte-pair-encoding
    * training): the top adjacent CHARACTER pairs across the corpus,
    * each word occurrence contributing every position. The trick that
    * makes BPE training tractable at 100 TB: collapse the corpus to
    * the (word, count) vocabulary FIRST (one corpus-sized shuffle —
    * the wordCount aggregate), then enumerate pairs over vocabulary
    * TYPES weighted by count — pair work scales with |vocab|, not
    * corpus tokens. Iterating (merge top pair, re-pair) is a driver
    * loop over these two dataframes, like GraphOps/kmeans rounds.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables
      .documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")) >= 2)
    vocab
      .select(
        col("cnt"),
        explode(
          expr("transform(sequence(1, length(word) - 1), i -> substring(word, CAST(i AS INT), 2))")
        ).as("pair")
      )
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(BpeTopK)
  }

  val DriftBins = 20

  /** Split-vs-split distribution drift — the monitoring check that a
    * train/val/test split (or two corpus snapshots) have the same
    * feature distribution. Feature = n_chars in fixed-width bins
    * (data-independent grid, so the bin set never grows with the
    * corpus); divergence per bin = the chi-square-style
    * (p−q)²/(p+q) term, chosen over PSI because it is RATIONAL —
    * ln() is not guaranteed bit-identical across engines, ratios of
    * exact integer counts are. Per-bin rows are emitted (the total is
    * a 20-element sum the consumer can fold); everything cross-row is
    * integer counts, everything double is per-row.
    */
  def splitDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .documents(spark, dir)
      .select(
        splitExpr(col("doc_id")).as("split"),
        least(expr("n_chars DIV 100"), lit((DriftBins - 1).toLong)).as("bin")
      )
    val counts = d
      .groupBy(col("bin"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") =!= "train", 1L).otherwise(0L)).as("n_rest")
      )
    val totals = d.agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("t_train"),
      sum(when(col("split") =!= "train", 1L).otherwise(0L)).as("t_rest")
    )
    counts
      .crossJoin(broadcast(totals))
      .withColumn("p_train", col("n_train").cast("double") / col("t_train").cast("double"))
      .withColumn("p_rest", col("n_rest").cast("double") / col("t_rest").cast("double"))
      .select(
        col("bin"),
        col("n_train"),
        col("n_rest"),
        col("p_train"),
        col("p_rest"),
        when(col("p_train") + col("p_rest") > 0.0,
          (col("p_train") - col("p_rest")) * (col("p_train") - col("p_rest"))
            / (col("p_train") + col("p_rest")))
          .otherwise(lit(0.0))
          .as("drift_term")
      )
  }

  val PmiMinCount = 5L
  val PmiTopK = 25

  /** PMI association mining: the top-25 adjacent token pairs by
    * pointwise-mutual-information lift, lift(a,b) = P(a,b)/(P(a)P(b))
    * = n_ab·T / (n_a·n_b) — the collocation-detection primitive
    * (phrase mining, tokenizer-merge candidates). Bigrams come from
    * the codegen `word_ngrams` expression (token arrays never leave
    * their scan stage); the corpus-sized work is ONE (head,nxt) count
    * aggregate plus a vocabulary-sized unigram aggregate; T joins back
    * as a one-row broadcast (the Q11/Q15 global-scalar shape).
    *
    * Exactness: lift is emitted as the double quotient of two exact
    * BIGINT products. n_ab·T and n_a·n_b stay under 2^53 up to ~10^8
    * corpus bigrams (T ~ 10^7 at sf0.1); beyond that, pre-divide by
    * gcd or emit the factors — the ORDER itself is what matters, and
    * tie-broken (lift, head, nxt) ordering keeps top-k deterministic.
    */
  def pmiPairs(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(2))
        ).as("bg")
      )
      .select(
        split(col("bg"), " ").getItem(0).as("head"),
        split(col("bg"), " ").getItem(1).as("nxt")
      )
    val pairCounts = bg.groupBy(col("head"), col("nxt")).agg(count(lit(1)).as("n_ab"))
    // Unigram counts over bigram POSITIONS (heads + tails), so P(a) and
    // P(a,b) share one sample space — the textbook PMI estimator. Both
    // derive from pairCounts: no second corpus pass.
    val uni = pairCounts
      .select(col("head").as("tok"), col("n_ab"))
      .unionAll(pairCounts.select(col("nxt").as("tok"), col("n_ab")))
      .groupBy(col("tok"))
      .agg(sum(col("n_ab")).as("n_tok"))
    val total = pairCounts.agg(sum(col("n_ab")).as("t2")).select((col("t2") * 2).as("t_pos"))
    pairCounts
      .filter(col("n_ab") >= PmiMinCount)
      .join(uni.withColumnRenamed("tok", "head").withColumnRenamed("n_tok", "n_a"), Seq("head"))
      .join(uni.withColumnRenamed("tok", "nxt").withColumnRenamed("n_tok", "n_b"), Seq("nxt"))
      .crossJoin(broadcast(total))
      .select(
        col("head"),
        col("nxt"),
        col("n_ab"),
        col("n_a"),
        col("n_b"),
        ((col("n_ab") * col("t_pos")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift")
      )
      .orderBy(col("lift").desc, col("head").asc, col("nxt").asc)
      .limit(PmiTopK)
  }

  /** Temperature-scaled mixture weights per (lang, source) corpus cell —
    * the multilingual-sampling step (tau = 0.5, i.e. p ∝ tokens^0.5)
    * that upweights low-resource cells relative to proportional
    * sampling. Exactness discipline: token totals and ppm shares are
    * BIGINT integer arithmetic; the only double is
    * sqrt(tokens/max_tokens), and IEEE division + sqrt are both
    * correctly rounded, so the value is bit-identical on any engine —
    * no order-dependent double sums (which is why the weight is
    * reported relative to the LARGEST cell, an order-free reduction,
    * instead of softmax-normalized).
    *
    * Scale: one partial-agg shuffle on (lang, source) — a handful of
    * cells — then a one-row global broadcast re-joined (the Q11/Q15
    * scalar-threshold shape). Nothing here grows with corpus size.
    */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .documents(spark, dir)
      .select(
        col("lang"),
        col("source"),
        size(regexp_extract_all(col("text"), lit("[\\p{L}]+|[0-9]|[^\\p{L}0-9\\s]"), lit(0)))
          .cast("long")
          .as("n_tokens")
      )
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("cell_tokens"))
    val global = cells.agg(
      sum(col("cell_tokens")).as("total_tokens"),
      max(col("cell_tokens")).as("max_tokens")
    )
    cells
      .crossJoin(broadcast(global))
      .select(
        col("lang"),
        col("source"),
        col("n_docs"),
        col("cell_tokens"),
        expr("(cell_tokens * 1000000) div total_tokens").as("share_ppm"),
        sqrt(col("cell_tokens").cast("double") / col("max_tokens").cast("double"))
          .as("rel_weight")
      )
  }

  /** DSIR-style hashed importance buckets: bigram features hashed into
    * 64 buckets; each bucket's target-vs-raw frequency ratio is the
    * importance weight a doc scorer would average over its features
    * (Xie et al. 2023, data selection via importance resampling).
    * Target distribution = the English slice; raw = the whole corpus.
    * The ratio is reported in exact integer arithmetic — ppm of the
    * cross-product (t_c * r_total * 1e6) / (r_c * t_total) — so the
    * gate is engine-exact with no float log-likelihoods.
    *
    * Scale: bigrams are built per row by the codegen `word_ngrams`
    * expression and partially aggregated to 64 buckets map-side, so
    * the shuffle carries 64 rows per task regardless of corpus size;
    * totals fold from the bucket table (no second corpus pass).
    */
  val DsirBuckets = 64

  def dsirImportance(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("lang"),
        explode(
          graft.functions.VectorExpressions.wordNgrams(tokens(lower(col("text"))), lit(2))
        ).as("bg")
      )
      .select(
        (conv(substring(md5(col("bg")), 1, 2), 16, 10).cast("bigint") % DsirBuckets)
          .as("bucket"),
        (col("lang") === "en").cast("long").as("is_target")
      )
    val buckets = feats
      .groupBy(col("bucket"))
      .agg(sum(col("is_target")).as("target_count"), count(lit(1)).as("raw_count"))
    val totals = buckets.agg(
      sum(col("target_count")).as("t_total"),
      sum(col("raw_count")).as("r_total")
    )
    buckets
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        col("target_count"),
        col("raw_count"),
        expr("(target_count * r_total * 1000000) div (raw_count * t_total)").as("ratio_ppm")
      )
  }

  /** N-gram diversity (type/token ratios at n = 1, 2, 3) per source —
    * the "diversity collapse" detector run over generated or scraped
    * corpora (a source whose TTR craters is template spam or model
    * output). Exact integer counts; the ratio is ppm integer division.
    *
    * ONE corpus scan for all three levels (the round-3 board's
    * slowest query re-read and re-tokenized the corpus per level):
    * each document tokenizes once, emits its 1/2/3-gram arrays
    * side by side, and a single explode feeds one (source, n, gram)
    * partial-agg shuffle that collapses the gram stream map-side —
    * gram strings never fan out wider than the distinct-gram set,
    * and the shuffle volume is the same three level streams, just
    * carried in one exchange instead of three scans.
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), tokens(lower(col("text"))).as("toks"))
    val grams = base
      .select(
        col("source"),
        explode(
          array((1 to 3).map { n =>
            struct(
              lit(n.toLong).as("n"),
              graft.functions.VectorExpressions.wordNgrams(col("toks"), lit(n)).as("gs")
            )
          }: _*)
        ).as("lv")
      )
      .select(col("source"), col("lv.n").as("n"), explode(col("lv.gs")).as("g"))
    grams
      .groupBy(col("source"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("types"), sum(col("c")).as("tokens"))
      .select(
        col("source"),
        col("n"),
        col("types"),
        col("tokens"),
        expr("(types * 1000000) div tokens").as("ttr_ppm")
      )
  }

  /** BM25 retrieval: top-10 docs for a fixed 4-term query, scored with
    * the log-free rational idf (N - df + 0.5)/(df + 0.5) — same
    * "ln is not bit-stable across engines" discipline as split_drift;
    * the idf ORDERING is identical to Robertson's log form, so top-k
    * and relative ranks match what a log-idf engine would return.
    * k1 = 1.2, b = 0.75. Exactness: tf/df/dl/N are integers; avgdl and
    * each per-term partial are IEEE doubles derived from them in one
    * defined order, and the doc score is a left-associated 4-term sum
    * of per-term columns (conditional aggregates), never an
    * order-undefined SUM over a term stream.
    *
    * Scale: the token explode filters to the 4 query terms BEFORE the
    * (doc, term) shuffle — the posting volume is |matches|, not
    * |tokens|; df and avgdl are a 4-row and a 1-row broadcast;
    * top-10 plans as TakeOrdered. At 100 TB swap the literal term list
    * for a broadcast query table: same shape.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("join", "dup", "query", "sort")
  val Bm25TopK = 10

  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
    val lens = docs.select(col("doc_id"), col("dl"))
    val global = lens.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl")
    )
    val posting = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = posting.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = posting
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
    val termCols = Bm25Terms.map(t => max(when(col("term") === t, col("s"))).as(s"s_$t"))
    val perTerm = scored
      .groupBy(col("doc_id"), col("dl"))
      .agg(termCols.head, termCols.tail: _*)
    perTerm
      .select(
        col("doc_id") +: col("dl") +:
          Bm25Terms.map(t => coalesce(col(s"s_$t"), lit(0.0)).as(s"s_$t")): _*
      )
      .withColumn(
        "score",
        Bm25Terms.map(t => col(s"s_$t")).reduceLeft(_ + _)
      )
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopK)
  }

  /** Compaction planner: per (source, lang) output-table cell, how many
    * target-size files the writer should coalesce to — the
    * OPTIMIZE/small-files planning step run before a big rewrite.
    * n_files = ceil(bytes / target) in pure integer math; avg and max
    * expose residual skew (a cell whose max doc approaches the target
    * needs the per-file row-group cap instead). The report is one
    * partial-agg shuffle over a handful of cells; at 100 TB the same
    * aggregate drives `repartitionByRange(n_files)` per cell.
    */
  val CompactTargetBytes = 65536L

  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("cell_bytes"),
        max(col("n_chars")).as("max_doc_bytes")
      )
      .select(
        col("source"),
        col("lang"),
        col("n_docs"),
        col("cell_bytes"),
        expr(s"(cell_bytes + ${CompactTargetBytes - 1L}) div $CompactTargetBytes")
          .as("n_files"),
        expr(
          s"cell_bytes div ((cell_bytes + ${CompactTargetBytes - 1L}) div $CompactTargetBytes)"
        ).as("avg_file_bytes"),
        col("max_doc_bytes")
      )
  }

  /** Character-class composition per source — letters / whitespace /
    * other as exact counts and floor-div ppm. The cleaning signal that
    * catches markup-heavy, table-dump, or binary-leak sources before
    * tokenization (a source at 60% "other" is not prose). Class counts
    * come from length deltas after regexp_replace-ing the class away —
    * pure column arithmetic, same RE2-compatible classes (\p{L}, \s)
    * on both engines, no UDF. One map-side-combined aggregate of
    * #sources groups; scan-bound at 100 TB.
    */
  def charClassProfile(spark: SparkSession, dir: String): DataFrame = {
    val letters = length(col("text")) - length(regexp_replace(col("text"), "\\p{L}", ""))
    val spaces = length(col("text")) - length(regexp_replace(col("text"), "\\s", ""))
    Tables
      .documents(spark, dir)
      .select(
        col("source"),
        length(col("text")).cast("long").as("len"),
        letters.cast("long").as("nl"),
        spaces.cast("long").as("ns")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("len")).as("n_chars"),
        sum(col("nl")).as("n_letters"),
        sum(col("ns")).as("n_spaces"),
        sum(col("len") - col("nl") - col("ns")).as("n_other")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_chars"),
        col("n_letters"),
        col("n_spaces"),
        col("n_other"),
        expr("CAST(CAST(n_letters AS DECIMAL(38,0)) * 1000000 DIV (n_chars) AS BIGINT)").as("letter_ppm"),
        expr("CAST(CAST(n_spaces AS DECIMAL(38,0)) * 1000000 DIV (n_chars) AS BIGINT)").as("space_ppm"),
        expr("CAST(CAST(n_other AS DECIMAL(38,0)) * 1000000 DIV (n_chars) AS BIGINT)").as("other_ppm")
      )
  }

  /** Per-source lexical profile: hapax/dis legomena and Simpson
    * diversity — the vocabulary-health report (a source whose hapax
    * share collapses is template spam; one whose Simpson index spikes
    * is dominated by few tokens). Everything is exact: legomena are
    * integer counts, shares are floor-div ppm, and Simpson's
    * Σnᵢ(nᵢ−1)/(N(N−1)) is kept as its integer numerator (decimal
    * sums — token counts square) next to one IEEE division. Entropy is
    * deliberately NOT here: log() differs in the last ulp across libm
    * implementations, so a bit-stable cross-engine entropy does not
    * exist (the same reason bm25_topk uses the log-free rational idf).
    *
    * Scale: one (source, token) collapse, then a #sources aggregate —
    * the wordCount shuffle shape, nothing else.
    */
  def hapaxRatio(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("vocab"),
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("n_dis"),
        sum(col("cnt").cast(DecimalType(19, 0)) * (col("cnt") - 1).cast(DecimalType(19, 0)))
          .cast("long").as("simpson_num")
      )
      .select(
        col("source"),
        col("vocab"),
        col("n_tokens"),
        col("n_hapax"),
        col("n_dis"),
        expr("CAST(CAST(n_hapax AS DECIMAL(38,0)) * 1000000 DIV (vocab) AS BIGINT)").as("hapax_vocab_ppm"),
        expr("CAST(CAST(n_hapax AS DECIMAL(38,0)) * 1000000 DIV (n_tokens) AS BIGINT)").as("hapax_mass_ppm"),
        col("simpson_num"),
        (col("simpson_num").cast("double") /
          (col("n_tokens").cast("double") * (col("n_tokens") - 1).cast("double")))
          .as("simpson_d")
      )
  }

  /** Kendall rank agreement between two source orderings — by token
    * mass and by vocabulary size. Answers "do my size and diversity
    * rankings tell the same story?", the sanity check before using
    * either as a sampling weight. Ranks are tie-broken to a strict
    * permutation ((metric desc, source asc) — so tau is exactly
    * tau-a); concordant/discordant pair counts are exact integers
    * from a self-join of the #sources-row aggregate, and tau is one
    * IEEE division.
    *
    * Scale: the pair join is over the per-source AGGREGATE (sources²
    * pairs, not corpus rows) — at any corpus size this is a
    * few-hundred-row comparison. Corpus-scale Kendall over raw rows
    * would be merge-sort inversion counting; this operator's contract
    * is source-level.
    */
  def rankAgreement(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("vocab"))
    val ranked = m
      .withColumn(
        "r_mass",
        row_number().over(Window.orderBy(col("n_tokens").desc, col("source").asc))
      )
      .withColumn(
        "r_vocab",
        row_number().over(Window.orderBy(col("vocab").desc, col("source").asc))
      )
    val a = ranked.select(col("source").as("src_a"), col("r_mass").as("ma"), col("r_vocab").as("va"))
    val b = ranked.select(col("source").as("src_b"), col("r_mass").as("mb"), col("r_vocab").as("vb"))
    a.join(b, col("src_a") < col("src_b"))
      .select(
        when((col("ma") - col("mb")) * (col("va") - col("vb")) > 0, 1L)
          .otherwise(0L).as("conc")
      )
      .agg(count(lit(1)).as("n_pairs"), sum(col("conc")).as("concordant"))
      .withColumn("discordant", col("n_pairs") - col("concordant"))
      .join(broadcast(m.agg(count(lit(1)).as("n_items"))))
      .select(
        col("n_items"),
        col("n_pairs"),
        col("concordant"),
        col("discordant"),
        ((col("concordant") - col("discordant")).cast("double") /
          col("n_pairs").cast("double")).as("kendall_tau")
      )
  }

  /** Cross-source vocabulary overlap matrix: exact Jaccard between
    * every pair of sources' distinct-token vocabularies — the source
    * redundancy report that decides whether two crawls are worth
    * keeping separately in a mixture. Counts are exact integers; the
    * one derived double is a single division of two exact longs
    * (correctly rounded on any engine).
    *
    * Scale: the corpus collapses to distinct (source, token) FIRST
    * (vocabulary-sized, not corpus-sized); the pair join is an
    * inverted-index self-join on token whose fan-out is bounded by
    * sources²-per-token (sources is small and fixed — this is a
    * per-source report, not a per-doc one), and the groupBy collapses
    * it straight back to sources² rows. Vocabulary sizes ride in via
    * broadcast. Nothing is all-pairs over docs.
    */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .distinct()
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("n_vocab"))
    vocab
      .select(col("word"), col("source").as("source_a"))
      .join(vocab.select(col("word"), col("source").as("source_b")), Seq("word"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(
        broadcast(sizes.select(col("source").as("source_a"), col("n_vocab").as("na"))),
        Seq("source_a")
      )
      .join(
        broadcast(sizes.select(col("source").as("source_b"), col("n_vocab").as("nb"))),
        Seq("source_b")
      )
      .select(
        col("source_a"),
        col("source_b"),
        col("n_shared"),
        col("na"),
        col("nb"),
        (col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")).cast("double")).as("jaccard")
      )
  }

  /** Phrase search over n-gram postings: find every document holding
    * the corpus's most frequent bigram (deterministic: count desc,
    * then lexicographic) and report per-doc occurrence counts — the
    * phrase-query shape of a positional/bigram inverted index, with
    * the query term chosen by the data so no magic constant is baked
    * in. Bigrams come from the codegen `word_ngrams` expression;
    * the chosen phrase is a one-row broadcast, so the per-doc match
    * filter runs map-side and only matching (doc, phrase) rows ever
    * shuffle.
    *
    * Scale: two passes over the token stream (pick the phrase, count
    * its hits), both pure map + hash-agg; the phrase filter drops
    * ~everything before the second shuffle. A standing phrase
    * workload would materialize the bigram posting list once and
    * reuse it — this query IS that posting-build + probe, fused.
    */
  def phraseHits(spark: SparkSession, dir: String): DataFrame = {
    def bigrams = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(2))
        ).as("bg")
      )
    val top = bigrams
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("n_total"))
      .orderBy(col("n_total").desc, col("bg").asc)
      .limit(1)
    bigrams
      .join(broadcast(top), Seq("bg"))
      .groupBy(col("doc_id"), col("bg").as("phrase"), col("n_total"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("phrase"), col("n_hits"), col("n_total"))
  }

  /** Vocabulary growth (Heaps'-law) curve: cumulative distinct
    * vocabulary vs cumulative token mass at ten doc-id-order
    * checkpoints — the "is more data still buying new words?"
    * saturation report that sizes tokenizer vocabularies. A token's
    * first appearance is its MIN doc_id, so the cumulative vocab at
    * checkpoint d is just "first_doc ≤ d" — no running set union.
    *
    * Scale: the corpus collapses to (a) one row per doc (token
    * count) and (b) one row per distinct first-appearance doc; both
    * join the TEN broadcast checkpoint bounds with a ≤ predicate
    * (map-side 10× fan-out, partial-agged to 10 groups), so nothing
    * corpus-sized is ever sorted. The checkpoint NTILE itself sorts
    * only the doc-id directory; at 100 TB it swaps for
    * approx_percentile bounds, same contract.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
    val perDoc = docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
    val newWords = docs
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc"))
      .agg(count(lit(1)).as("n_new"))
    val bounds = RankOps
      .withGlobalNtile(perDoc.select(col("doc_id")), 10, "bucket", Seq(col("doc_id").asc))
      .groupBy(col("bucket"))
      .agg(max(col("doc_id")).as("bound"), count(lit(1)).as("n_docs"))
    val cumDocs = perDoc
      .join(broadcast(bounds), col("doc_id") <= col("bound"))
      .groupBy(col("bucket"), col("bound"))
      .agg(count(lit(1)).as("cum_docs"), sum(col("n_toks")).as("cum_tokens"))
    val cumVocab = newWords
      .join(broadcast(bounds), col("first_doc") <= col("bound"))
      .groupBy(col("bucket").as("b2"))
      .agg(sum(col("n_new")).as("cum_vocab"))
    cumDocs
      .join(cumVocab, col("bucket") === col("b2"))
      .select(
        col("bucket").cast("long").as("bucket"),
        col("bound"),
        col("cum_docs"),
        col("cum_tokens"),
        col("cum_vocab")
      )
  }

  /** Gibberish screen via consonant runs: the longest unbroken
    * consonant sequence per doc (encoding noise, base64 blobs and
    * mashed-key text all show pathological runs; natural language
    * tops out around 6 — "strengths"), rolled up per source with the
    * ≥ 8 flag rate — a curation signal character-class ratios miss
    * (they count, runs MEASURE adjacency). Runs come from one
    * regexp_extract_all both engines share; all outputs exact
    * integers/ppm.
    *
    * Scale: pure per-row map into a per-source aggregate.
    */
  val ConsonantRunFlag = 8

  def consonantRuns(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(
        col("source"),
        coalesce(
          expr(
            "array_max(transform(regexp_extract_all(lower(text), " +
              "'[bcdfghjklmnpqrstvwxyz]+', 0), s -> length(s)))"
          ),
          lit(0)
        ).cast("long").as("max_run")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("max_run") >= ConsonantRunFlag, 1L).otherwise(0L)).as("n_flagged"),
        max(col("max_run")).as("max_run"),
        expr("percentile(max_run, 0.5)").as("p50_run")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_flagged"),
        col("max_run"),
        col("p50_run"),
        expr("CAST(CAST(n_flagged AS DECIMAL(38,0)) * 1000000 DIV (n_docs) AS BIGINT)").as("flag_ppm")
      )
  }

  /** Stratified k-fold assignment: within each language stratum, docs
    * take folds round-robin by doc-id rank — the cross-validation
    * protocol that GUARANTEES per-stratum balance (every (lang, fold)
    * cell holds ⌊n/5⌋ or ⌈n/5⌉ docs), unlike data_split's hash
    * buckets whose balance is only statistical. The report emits each
    * cell with its exact expected count and the balance flag the
    * oracle asserts via the same rank arithmetic; assignment is a
    * pure function of (lang, rank), so reruns are identical.
    *
    * Scale: one shuffle on lang for the rank window (skew = largest
    * stratum; a salted two-level rank is the fix if one language IS
    * the corpus), then a (lang × 5)-cell aggregate.
    */
  val KFolds = 5

  def stratifiedKfold(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn(
        "fold",
        ((row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
        ) - 1) % KFolds).cast("long")
      )
    ranked
      .groupBy(col("lang"), col("fold"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn(
        "lang_total",
        sum(col("n_docs")).over(Window.partitionBy(col("lang")))
      )
      .select(
        col("lang"),
        col("fold"),
        col("n_docs"),
        col("lang_total"),
        (expr("lang_total DIV 5") +
          when(col("fold") < col("lang_total") % KFolds, 1L).otherwise(0L)).as("expected"),
        (col("n_docs") ===
          expr("lang_total DIV 5") +
          when(col("fold") < col("lang_total") % KFolds, 1L).otherwise(0L)).as("balanced")
      )
  }

  /** Sequence-length histogram: docs binned into power-of-two
    * token-count bands per source (the freq_spectrum band function on
    * doc lengths) — the batch-shape/packing-planner readout every
    * training pipeline reads before choosing a context length.
    * Zero-token docs get their own band 0 (bin() would collide them
    * with length-1 docs). All columns exact integers.
    *
    * Scale: pure map (tokenize + band) into a (source × ~40 bands)
    * aggregate — map-side partials collapse everything before the one
    * tiny shuffle.
    */
  def doclenHist(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .select(
        col("source"),
        col("n_toks"),
        when(col("n_toks") === 0, 0L)
          .otherwise(length(bin(col("n_toks"))).cast("long"))
          .as("band")
      )
      .groupBy(col("source"), col("band"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        min(col("n_toks")).as("min_len"),
        max(col("n_toks")).as("max_len")
      )
  }

  val GateMinWords = 30

  /** The curation-funnel gate report: ONE pass over the corpus tags
    * every doc with a rejection-reason bitmask (bit 0 = quality score
    * below the trainingPrep threshold, bit 1 = consonant-run
    * gibberish, bit 2 = under `GateMinWords` words) and reports
    * per-(source, mask) doc and char mass — the "why is my data
    * shrinking" table every filtering pipeline prints before it
    * deletes anything. mask=0 is the surviving set; reason bits are
    * diagnosable independently (a doc can fail several ways, and the
    * mask keeps the combinations separate instead of double-counting
    * a reasons histogram).
    *
    * Scale: all three signals are per-row expressions appended in the
    * same projection (no join, no second scan); one partial+final agg
    * on (source, mask) — cardinality ≤ sources × 8.
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    withQualityCols(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"), toks.as("toks"))
    )
      .withColumn(
        "max_run",
        coalesce(
          expr(
            "array_max(transform(regexp_extract_all(lower(text), " +
              "'[bcdfghjklmnpqrstvwxyz]+', 0), s -> length(s)))"
          ),
          lit(0)
        ).cast("long")
      )
      .withColumn(
        "reason_mask",
        when(col("quality") < TrainingPrepMinQuality, 1L).otherwise(0L) +
          when(col("max_run") >= ConsonantRunFlag, 2L).otherwise(0L) +
          when(col("n_words") < GateMinWords, 4L).otherwise(0L)
      )
      .groupBy(col("source"), col("reason_mask"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  val BpeMerges = 6

  /** BPE tokenizer training — the first `BpeMerges` merge rules
    * learned from the corpus, the way real tokenizer trainers run it:
    * the corpus collapses ONCE to the word-type table (word, freq) —
    * Heaps-bounded, millions of rows at 100 TB, never the corpus —
    * and every merge round then runs on types only, each symbol-pair
    * count weighted by the type's corpus frequency.
    *
    * Per round: (1) adjacent-pair counts over the current symbol
    * sequences (one hash agg on the type table); (2) argmax pair with
    * the deterministic (count DESC, pair ASC) cut — a single scalar,
    * collected (this is the merge RULE; collecting it is the
    * bounded-driver-state pattern, GraphOps.connectedComponents doc);
    * (3) the rule applied to every type's sequence. Sequences are
    * space-separated symbol strings (" k e y "), and a merge is
    * `replace(seq, ' a b ', ' ab ')` applied 3 times: replace() in
    * both engines substitutes non-overlapping occurrences left-to-
    * right in one pass, so a fixed pass count is a deterministic,
    * engine-portable contract (pass 2+ catches occurrences whose
    * shared boundary space the previous pass consumed; 3 passes are
    * exact for runs up to length 8, far beyond this corpus). The
    * DuckDB twin unrolls the same rounds as chained CTEs.
    *
    * Scale: each round is one partial+final agg over types plus a
    * map — merge rounds are embarrassingly parallel over the type
    * table, and the per-round driver traffic is one row. M rounds =
    * M bounded jobs (localCheckpoint keeps lineage flat, the
    * GraphOps iteration discipline).
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeFitArtifacts(spark, dir)._1

  /** The fit loop's two outputs as session ARTIFACTS — the learned
    * merge table (BpeMerges rows) and the final per-word-type symbol
    * sequences (vocab-bounded) — so `bpe_train` and `bpe_encode`
    * share ONE training run instead of each re-running the M driver
    * rounds (the simhash/aHash memoization pattern; at 100 TB the fit
    * is the expensive pass and the tokenizer it learns is precisely
    * the thing a pipeline trains once and applies everywhere). If one
    * memo misses while the other hits (impossible within a session,
    * possible after a targeted drop), the fit re-runs for the missing
    * one only.
    */
  private def bpeFitArtifacts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    var fit: Option[(Seq[(Long, String, String, String, Long)], DataFrame)] = None
    def fitOnce() = { if (fit.isEmpty) fit = Some(bpeFit(spark, dir)); fit.get }
    val merges = Artifacts.memo(spark, dir, "bpe_fit_merges")(
      fitOnce()._1.toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
        .repartition(1)) // BpeMerges rows — one tiny block, not 32
    val types = Artifacts.memo(spark, dir, "bpe_fit_types")(fitOnce()._2)
    (merges, types)
  }

  /** The shared fit loop: returns the learned merge table AND the
    * final per-word-type symbol sequences (`word, freq, seq`).
    */
  private def bpeFit(
      spark: SparkSession,
      dir: String
  ): (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val r = bpeFitMerges(spark, dir, BpeMerges)
    (r._1, r._2)
  }

  /** The fit loop at a CONFIGURABLE merge count and corpus sample —
    * the realistic-scale path (the gate contract stays at
    * [[BpeMerges]] unsampled; `graft.tools.Profile bpe` drives this to
    * publish the per-round cost curve in BASELINE.md). Returns the merge
    * table, the final type sequences, and per-round wall seconds.
    *
    * `sampleBuckets < 100` trains on the deterministic md5 id-bucket
    * slice (splitBucket(doc_id) < sampleBuckets) — the sampled-corpus
    * contract production tokenizer trainers use (SentencePiece's
    * input_sentence_size sampling): the TYPE table shrinks roughly
    * Heaps-sublinearly while high-mass merges are stable, so a 100 TB
    * corpus trains its tokenizer on a deterministic few-percent slice
    * and the per-round cost is the sampled type-table agg, not a
    * corpus pass. Sampling is by the same md5 bucketing as the
    * train/val/test split: stable under re-runs and corpus growth.
    *
    * Per-round cost shape (why hundreds of merges are affordable):
    * each round is ONE map-side-combined aggregate over the type
    * table plus a 1-row collect and a row-local 3-pass replace — the
    * round cost is flat in the merge index (the type table never
    * grows), so total cost is linear in merges with a small constant;
    * the curve in BASELINE.md measures exactly that.
    */
  private[graft] def bpeFitMerges(
      spark: SparkSession,
      dir: String,
      mergeCount: Int,
      sampleBuckets: Int = 100
  ): (Seq[(Long, String, String, String, Long)], DataFrame, Seq[Double]) = {
    val base = Tables.documents(spark, dir)
    val docs =
      if (sampleBuckets >= 100) base
      else base.filter(splitBucket(col("doc_id")) < sampleBuckets)
    val types = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      // " k e y " — every symbol (incl. first/last) is space-delimited
      .withColumn("seq", concat(lit(" "), trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" ")))
      .localCheckpoint()

    val pairsOf = // adjacent symbol pairs of the current sequence
      """CASE WHEN size(syms) >= 2
        |     THEN transform(sequence(0, size(syms) - 2),
        |                    i -> concat(element_at(syms, i + 1), ' ', element_at(syms, i + 2)))
        |     ELSE array() END""".stripMargin
    var cur = types
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    val roundSecs = Seq.newBuilder[Double]
    var exhausted = false // a round with no adjacent pairs ends training
    for (k <- 1 to mergeCount if !exhausted) {
      val t0 = System.nanoTime()
      val best = cur
        .withColumn("syms", split(trim(col("seq")), " "))
        .select(col("freq"), explode(expr(pairsOf)).as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true // e.g. a corpus of single-letter types
      else {
        val pair = best(0).getString(0)
        val Array(a, b) = pair.split(" ", 2)
        val merged = a + b
        merges += ((k.toLong, a, b, merged, best(0).getLong(1)))
        // Column-function replace, not SQL-string interpolation: the
        // pair text never passes through a parser, so no symbol
        // alphabet can break (or inject into) the merge expression
        val from = lit(s" $pair ")
        val to = lit(s" $merged ")
        cur = cur
          .withColumn("seq",
            replace(replace(replace(col("seq"), from, to), from, to), from, to))
          .localCheckpoint()
      }
      roundSecs += (System.nanoTime() - t0) / 1e9
    }
    (merges.result(), cur, roundSecs.result())
  }

  /** BPE encoding of the corpus with the merges just learned — the
    * tokenizer-evaluation readout: per source, how many BPE tokens the
    * text shreds into vs its letter count (compression ppm, floor-div)
    * and the tokens-per-word-occurrence load. Encoding rides the TYPE
    * table (each distinct word is encoded once; the corpus only
    * contributes per-(source, word) occurrence counts), so the join
    * back is types-sized — the same reason tokenizer inference at
    * 100 TB memoizes per distinct word.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val enc = bpeFitArtifacts(spark, dir)._2
      .select(col("word"), size(split(trim(col("seq")), " ")).cast("long").as("n_syms"))
    val occ = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    occ
      .join(enc, Seq("word"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_word_occurrences"),
        countDistinct(col("word")).as("n_word_types"),
        sum(col("cnt") * length(col("word"))).as("n_letters"),
        sum(col("cnt") * col("n_syms")).as("n_bpe_tokens")
      )
      .withColumn("compression_ppm", expr("CAST(CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000 DIV (n_letters) AS BIGINT)"))
  }

  /** Merge-count checkpoints for the tokenizer-sizing sweep:
    * prefixes of the ONE learned merge sequence (BPE merges are
    * nested — the k-merge tokenizer IS the first k rows of the
    * BpeMerges-merge fit). Mirrored in the oracle, which reads the
    * same rounds straight from its unrolled r2/r4/r6 CTEs.
    */
  val BpeSweepKs = Seq(2, 4, 6)

  /** Tokenizer VOCAB-SIZE sweep — the sizing curve a pipeline reads
    * before committing to a vocabulary: corpus compression (BPE
    * tokens per letter) and the realized symbol-vocabulary size at
    * k ∈ [[BpeSweepKs]] merges, all from ONE training run. Because
    * BPE merge lists are prefix-nested, the k-merge encoding is
    * replayed by applying the first k learned merges (rank order,
    * same 3-pass replace contract as the fit) to the base character
    * sequences — no re-training per point, the sweep discipline of
    * `boilerplate_df_sweep` applied to the tokenizer.
    *
    * Scale: the merge table is a ≤ BpeMerges-row driver collect (the
    * documented BPE bounded-collect contract); the replay operates on
    * the vocab-bounded TYPE table, and the corpus contributes only
    * (word, cnt) occurrence counts — at 100 TB the corpus pass is the
    * one aggregate, shared across all k.
    */
  def bpeVocabSweep(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeFitArtifacts(spark, dir)._1
      .select(col("rank"), col("left_sym"), col("right_sym"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val types = Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("seq", concat(lit(" "), trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" ")))
      .localCheckpoint() // ONE corpus pass shared by every k
    // The occurrence counts ARE the type frequencies — reuse the
    // checkpointed type table instead of re-aggregating the corpus.
    val occ = types.select(col("word"), col("freq").as("cnt"))
    BpeSweepKs
      .map { k =>
        val seqK = merges.take(k).foldLeft(types) { case (cur, (_, a, b)) =>
          val from = lit(s" $a $b ")
          val to = lit(s" $a$b ")
          cur.withColumn("seq", replace(replace(replace(col("seq"), from, to), from, to), from, to))
        }
        val enc = seqK.select(
          col("word"),
          size(split(trim(col("seq")), " ")).cast("long").as("n_syms")
        )
        val vocab = seqK
          .select(explode(split(trim(col("seq")), " ")).as("s"))
          .agg(countDistinct(col("s")).as("n_vocab_symbols"))
        occ
          .join(enc, Seq("word"))
          .agg(
            sum(col("cnt") * length(col("word"))).as("n_letters"),
            sum(col("cnt") * col("n_syms")).as("n_bpe_tokens")
          )
          .crossJoin(broadcast(vocab))
          .select(
            lit(k.toLong).as("n_merges"),
            col("n_vocab_symbols"),
            col("n_letters"),
            col("n_bpe_tokens"),
            expr(
              "CAST(CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000 DIV n_letters AS BIGINT)"
            ).as("compression_ppm")
          )
      }
      .reduce(_ unionAll _)
  }

  /** Spam-detector BAKE-OFF over the repeated-phrase corpus
    * ([[repDocs]]; planted spam = the %37 30-token runs): recall on
    * the planted class and false-positive rate on the clean class for
    * three published repetition detectors — the top-bigram share rule
    * (Gopher, > 20%), the adjacent-token max-run rule
    * (`repetition_stats`' max_run > 2), and the distinct-token ratio
    * rule (distinct < 20% of tokens). The sheet quantifies the claim
    * the n-gram family makes qualitatively: a PHRASE loop never
    * repeats the same token twice in a row only when the phrase is
    * multi-token, and barely dents the distinct ratio — so the cheap
    * rules miss what the gram rule catches. This is how a pipeline
    * owner picks (and prices) a detector before a 100 TB filter run.
    *
    * All three detectors are ROW-LOCAL here (the bigram max
    * multiplicity via sort + run fold over the doc's own grams) —
    * deliberately a different mechanism than the oracle's relational
    * GROUP BYs, so the gate cross-verifies two independent
    * formulations. One scan, one #detectors×2 aggregate, no
    * corpus-sized shuffle.
    */
  def detectorBakeoff(spark: SparkSession, dir: String): DataFrame = {
    val runBest = (arr: String) =>
      s"""aggregate($arr,
         | named_struct('prev', CAST(NULL AS STRING), 'cur', 0L, 'best', 0L),
         | (s, g) -> CASE WHEN s.prev IS NOT NULL AND g = s.prev
         |   THEN named_struct('prev', g, 'cur', s.cur + 1L,
         |                     'best', GREATEST(s.best, s.cur + 1L))
         |   ELSE named_struct('prev', g, 'cur', 1L,
         |                     'best', GREATEST(s.best, 1L)) END).best""".stripMargin
    repDocs(spark, dir)
      .select(
        pmod(col("doc_id"), lit(37L)).equalTo(0L).as("planted"),
        tokens(lower(col("text"))).as("toks")
      )
      .withColumn(
        "grams",
        expr(
          """CASE WHEN size(toks) >= 2
            | THEN transform(sequence(0, size(toks) - 2),
            |   i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))
            | ELSE array() END""".stripMargin
        )
      )
      .withColumn("top2", expr(runBest("array_sort(grams)")))
      .withColumn("maxrun", expr(runBest("toks")))
      .select(
        col("planted"),
        (col("top2") * 5L > size(col("grams")).cast("bigint")).as("f_top2gram"),
        (col("maxrun") > 2L).as("f_maxrun"),
        (size(array_distinct(col("toks"))).cast("bigint") * 5L <
          size(col("toks")).cast("bigint")).as("f_distinct_ratio")
      )
      .selectExpr(
        "planted",
        """stack(3,
          | 'top2gram', f_top2gram,
          | 'maxrun', f_maxrun,
          | 'distinct_ratio', f_distinct_ratio) AS (detector, flagged)""".stripMargin
      )
      .groupBy(col("detector"))
      .agg(
        sum(when(col("planted"), 1L).otherwise(0L)).as("n_planted"),
        sum(when(!col("planted"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("planted") && col("flagged"), 1L).otherwise(0L)).as("detected_planted"),
        sum(when(!col("planted") && col("flagged"), 1L).otherwise(0L)).as("flagged_clean")
      )
      .select(
        col("detector"),
        col("n_planted"),
        col("n_clean"),
        col("detected_planted"),
        col("flagged_clean"),
        expr(
          """CAST(CAST(detected_planted AS DECIMAL(38,0)) * 1000000
            |     DIV GREATEST(n_planted, 1) AS BIGINT)""".stripMargin
        ).as("recall_ppm"),
        expr(
          """CAST(CAST(flagged_clean AS DECIMAL(38,0)) * 1000000
            |     DIV GREATEST(n_clean, 1) AS BIGINT)""".stripMargin
        ).as("fp_ppm")
      )
  }

  /** Tokenizer fertility per LANGUAGE — the multilingual-fairness
    * readout of the learned BPE tokenizer (fertility = BPE tokens per
    * word occurrence, in ppm; letters-per-token as the inverse
    * granularity): a tokenizer trained on a mixed corpus shreds
    * under-represented languages into more, shorter tokens, which
    * taxes their effective context length and training compute — this
    * table is how that tax is measured before training starts.
    *
    * Shares the `bpe_fit_types` ARTIFACT with `bpe_train`/
    * `bpe_encode` (one training run, three readouts); the corpus
    * contributes only the (lang, word) occurrence counts, so the join
    * is vocab-sized. Both ppm columns are DECIMAL-widened floor
    * divisions (the board-wide ppm discipline).
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val enc = bpeFitArtifacts(spark, dir)._2
      .select(col("word"), size(split(trim(col("seq")), " ")).cast("long").as("n_syms"))
    val occ = Tables
      .documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    occ
      .join(enc, Seq("word"))
      .groupBy(col("lang"))
      .agg(
        sum(col("cnt")).as("n_word_occurrences"),
        countDistinct(col("word")).as("n_word_types"),
        sum(col("cnt") * length(col("word"))).as("n_letters"),
        sum(col("cnt") * col("n_syms")).as("n_bpe_tokens")
      )
      .select(
        col("lang"),
        col("n_word_occurrences"),
        col("n_word_types"),
        col("n_letters"),
        col("n_bpe_tokens"),
        expr("CAST(CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000 DIV n_word_occurrences AS BIGINT)")
          .as("fertility_ppm"),
        expr("CAST(CAST(n_letters AS DECIMAL(38,0)) * 1000000 DIV n_bpe_tokens AS BIGINT)")
          .as("letters_per_token_ppm")
      )
  }

  // ── Unigram-LM tokenizer (SentencePiece-style Viterbi-EM) ─────────

  val UnigramMaxPieceLen = 3
  val UnigramSeedMulti = 48
  val UnigramRounds = 2

  /** Exact 1/64-bit fixed-point log₂ — see
    * [[graft.functions.C64Kernel]], the canonical implementation (the
    * KN bigram LM also evaluates it distributed as the `c64_log2`
    * codegen expression). This alias keeps the unigram fit's
    * driver-side fold reading naturally.
    */
  private[graft] def c64(v: Long): Long = graft.functions.C64Kernel.c64(v)

  /** Quantized-Viterbi segmentation cost of `piece` under counts
    * (cnt, total): C64(total) − C64(cnt) ≈ 64·log₂(total/cnt) — the
    * negative log-probability in 1/64-bit units. Monotone and exact.
    */
  private def unigramCost(total: Long)(cnt: Long): Long = c64(total) - c64(cnt)

  private val UnigramInf = 1L << 62

  /** The per-word Viterbi DP as ONE row-local fold: state = array of
    * (cost, pieces) structs for positions 0..j−1; step j appends the
    * argmin over piece lengths 1..[[UnigramMaxPieceLen]] ending at j,
    * ties preferring the SHORTEST piece (the l=1 branch tests first
    * with <=). Runs over the TYPE table only — Heaps-bounded, never
    * the corpus — with the vocab cost map as a broadcast literal
    * (`cm`), so at 100 TB this is exactly tokenizer inference:
    * memoized per distinct word, zero shuffles. The DuckDB twin is a
    * deliberately DIFFERENT mechanism (a recursive CTE carrying a
    * 3-state window) — two independent formulations, one hash compare.
    */
  private def unigramDpExpr: String = {
    def q(l: Int): String = {
      val core = s"element_at(st, j - ${l - 1}).cost + " +
        s"coalesce(try_element_at(cm, substring(word, j - ${l - 1}, $l)), ${UnigramInf}L)"
      if (l == 1) core else s"CASE WHEN j >= $l THEN $core ELSE ${UnigramInf}L END"
    }
    def pick(l: Int): String =
      s"named_struct('cost', ${q(l)}, 'pieces', " +
        s"element_at(st, j - ${l - 1}).pieces || array(substring(word, j - ${l - 1}, $l)))"
    s"""element_at(
       |  aggregate(
       |    sequence(1, length(word)),
       |    array(named_struct('cost', CAST(0 AS BIGINT), 'pieces', CAST(array() AS array<string>))),
       |    (st, j) -> st || array(
       |      CASE WHEN ${q(1)} <= least(${q(2)}, ${q(3)}) THEN ${pick(1)}
       |           WHEN ${q(2)} <= ${q(3)} THEN ${pick(2)}
       |           ELSE ${pick(3)} END)),
       |  length(word) + 1)""".stripMargin
  }

  /** Unigram-LM tokenizer training, the second production tokenizer
    * family beside [[bpeTrain]] — SentencePiece's algorithm with the
    * same bounded-collect contract as the BPE fit:
    *
    *   1. the corpus collapses ONCE to the (word, freq) TYPE table;
    *   2. SEED vocabulary = every substring of length ≤
    *      [[UnigramMaxPieceLen]] counted with type frequency (the
    *      frequent-substring seeding step), keeping the top
    *      [[UnigramSeedMulti]] multi-char pieces by (cnt DESC, piece
    *      ASC) plus ALL single characters (coverage guarantee);
    *   3. [[UnigramRounds]] EM rounds as a driver loop: E-step =
    *      quantized-Viterbi best segmentation of every word type under
    *      the current piece costs ([[unigramDpExpr]]); M-step = piece
    *      counts under those segmentations (one freq-weighted hash
    *      agg), pruning multi-char pieces that went unused and flooring
    *      single-char counts at 1 (coverage; SentencePiece's smoothing
    *      plays this role). The piece table is the ONLY driver traffic
    *      — vocab-bounded, the bpeFit merge-rule contract.
    *
    * Hard-EM (Viterbi) rather than full lattice forward-backward: the
    * E-step posterior is collapsed to the argmax path — the standard
    * scalable approximation, and the one whose arithmetic stays exact
    * integer end-to-end (see [[c64]]).
    */
  private def unigramFit(
      spark: SparkSession,
      dir: String
  ): (Seq[(String, Long)], DataFrame) = {
    val types = Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .localCheckpoint() // ONE corpus pass; every round rides types

    val seed = types
      .select(col("word"), col("freq"), explode(expr("sequence(1, length(word))")).as("i"))
      .select(
        col("word"),
        col("freq"),
        col("i"),
        explode(expr(s"sequence(1, least($UnigramMaxPieceLen, length(word) - i + 1))")).as("l")
      )
      .select(expr("substring(word, i, l)").as("piece"), col("freq"))
      .groupBy(col("piece"))
      .agg(sum(col("freq")).as("cnt"))
      .localCheckpoint() // two consumers: multi top-k + the char slice
    val multi = seed
      .filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(UnigramSeedMulti)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val chars = seed
      .filter(length(col("piece")) === 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val charSet = chars.map(_._1)

    var vocab: Seq[(String, Long)] = multi ++ chars
    var seg: DataFrame = null
    for (_ <- 1 to UnigramRounds) {
      val total = vocab.map(_._2).sum
      val costMap = vocab.map { case (p, c) => p -> unigramCost(total)(c) }.toMap
      seg = types
        .withColumn("cm", typedLit(costMap))
        .withColumn("fin", expr(unigramDpExpr))
        .select(col("word"), col("freq"), col("fin.cost").as("cost"),
          col("fin.pieces").as("pieces"))
        .localCheckpoint() // feeds the M-step collect AND the readouts
      val counts = seg
        .select(col("freq"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece"))
        .agg(sum(col("freq")).as("cnt"))
        .collect() // vocab-bounded: only vocab pieces can appear
        .map(r => (r.getString(0), r.getLong(1)))
        .toMap
      vocab = charSet.map(c => (c, math.max(counts.getOrElse(c, 0L), 1L))) ++
        counts.filter(_._1.length >= 2).toSeq
    }
    (vocab, seg)
  }

  /** The fit's two outputs as session ARTIFACTS (the bpeFitArtifacts
    * pattern): the final piece table with counts and costs
    * (vocab-bounded, one block) and the final per-word-type Viterbi
    * segmentation — so `unigram_fit`, `unigram_encode` and
    * `unigram_vs_bpe` share ONE training run.
    */
  private[graft] def unigramArtifacts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    var fit: Option[(Seq[(String, Long)], DataFrame)] = None
    def fitOnce() = { if (fit.isEmpty) fit = Some(unigramFit(spark, dir)); fit.get }
    val pieces = Artifacts.memo(spark, dir, "unigram_pieces") {
      val vocab = fitOnce()._1
      val total = vocab.map(_._2).sum
      vocab
        .map { case (p, c) => (p, p.length.toLong, c, unigramCost(total)(c)) }
        .toDF("piece", "piece_len", "cnt", "cost_c64")
        .repartition(1) // vocab-bounded — one tiny block, not 32
    }
    val seg = Artifacts.memo(spark, dir, "unigram_seg")(fitOnce()._2)
    (pieces, seg)
  }

  /** Gate readout: the learned unigram piece table — final M-step
    * counts and the 1/64-bit costs the next round would use.
    */
  def unigramFitTable(spark: SparkSession, dir: String): DataFrame =
    unigramArtifacts(spark, dir)._1

  /** Unigram encoding of the corpus — per source, tokens-per-letter
    * compression under the final Viterbi segmentation; rides the TYPE
    * table exactly like [[bpeEncode]] (each distinct word segmented
    * once; the corpus contributes only (source, word) counts).
    */
  def unigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val enc = unigramArtifacts(spark, dir)._2
      .select(col("word"), size(col("pieces")).cast("long").as("n_syms"))
    val occ = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    occ
      .join(enc, Seq("word"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_word_occurrences"),
        countDistinct(col("word")).as("n_word_types"),
        sum(col("cnt") * length(col("word"))).as("n_letters"),
        sum(col("cnt") * col("n_syms")).as("n_unigram_tokens")
      )
      .withColumn(
        "compression_ppm",
        expr("CAST(CAST(n_unigram_tokens AS DECIMAL(38,0)) * 1000000 DIV n_letters AS BIGINT)")
      )
  }

  /** BPE vs unigram-LM on one sheet — realized vocabulary size, total
    * corpus tokens and compression ppm for both trained tokenizers,
    * each read from its session fit artifact (ZERO training re-runs
    * here). THE table a pipeline owner reads before committing a
    * tokenizer family; both fits see the identical type table, so the
    * comparison is apples-to-apples.
    */
  def unigramVsBpe(spark: SparkSession, dir: String): DataFrame = {
    val bpeTypes = bpeFitArtifacts(spark, dir)._2
      .select(
        col("freq"),
        length(col("word")).cast("long").as("wlen"),
        split(trim(col("seq")), " ").as("syms")
      )
      .localCheckpoint() // feeds the totals AND the vocab count
    val bAgg = bpeTypes.agg(
      sum(col("freq") * col("wlen")).as("n_letters"),
      sum(col("freq") * size(col("syms")).cast("long")).as("n_tokens")
    )
    val bVocab = bpeTypes
      .select(explode(col("syms")).as("s"))
      .agg(countDistinct(col("s")).as("n_vocab"))
    val (pieces, seg) = unigramArtifacts(spark, dir)
    val uAgg = seg.agg(
      sum(col("freq") * length(col("word")).cast("long")).as("n_letters"),
      sum(col("freq") * size(col("pieces")).cast("long")).as("n_tokens")
    )
    val uVocab = pieces.agg(count(lit(1)).as("n_vocab"))
    def rowOf(fam: String, agg: DataFrame, voc: DataFrame): DataFrame =
      agg
        .crossJoin(broadcast(voc))
        .select(
          lit(fam).as("family"),
          col("n_vocab"),
          col("n_letters"),
          col("n_tokens"),
          expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV n_letters AS BIGINT)")
            .as("compression_ppm")
        )
    rowOf("bpe", bAgg, bVocab).unionAll(rowOf("unigram", uAgg, uVocab))
  }

  // ── WordPiece tokenizer (likelihood-scored merges) ────────────────

  val WordPieceMerges = 6

  /** WordPiece training — the THIRD production tokenizer family
    * beside [[bpeFitMerges]] (frequency merges) and the unigram fit
    * (Viterbi-EM): BPE's merge loop but with Schuster & Nakajima's
    * LIKELIHOOD objective — each round merges the adjacent pair
    * maximizing cnt(ab) / (cnt(a)·cnt(b)), the pair whose merge most
    * increases corpus likelihood under a unigram model, not the most
    * frequent pair. Word-internal continuation symbols carry the
    * standard `##` mark from initialization (" h ##e ##l ##l ##o "),
    * so a merge of (a, b) yields a + b-without-its-##, and the final
    * vocabulary separates word-initial from continuation pieces
    * exactly as BERT's does.
    *
    * The score is integer-exact both engines: cnt·10¹² floor-div
    * (cnt_a·cnt_b) through DECIMAL(38,0) here and HUGEINT in the
    * DuckDB twin; argmax ties break (cnt DESC, pair ASC). Merge
    * APPLICATION follows the house BPE convention — three nested
    * non-overlapping replace passes, not iterate-to-fixed-point — a
    * DELIBERATE deviation from canonical WordPiece on pathological
    * inputs: a run of ≥ 5 repeated symbols can keep an unmerged
    * adjacent pair after pass 3, shifting later rounds' likelihood
    * counts. Parity is unaffected (the oracle twin and the recompute
    * spec share the convention); real-token corpora never hit it
    * (requires e.g. "aaaaa" surviving as 5 separate symbols of the
    * SAME merged pair). Per round:
    * ONE type-table explode feeds both the pair and the symbol
    * aggregates (map-side combined), the two K-bounded count frames
    * join the pair frame on its split symbols, and a 1-row collect
    * picks the winner — the [[bpeFitMerges]] bounded-collect
    * contract, so the same sampled-corpus path scales it to 100 TB.
    */
  private[graft] def wordpieceFit(
      spark: SparkSession,
      dir: String
  ): (Seq[(Long, String, String, String, Long, Long, Long, Long)], DataFrame) = {
    val types = Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .withColumn(
        "seq",
        concat(
          lit(" "),
          substring(col("word"), 1, 1),
          when(
            length(col("word")) > 1,
            concat(
              lit(" "),
              trim(regexp_replace(expr("substring(word, 2)"), "(.)", "##$1 "))
            )
          ).otherwise(lit("")),
          lit(" ")
        )
      )
      .localCheckpoint()

    val pairsOf =
      """CASE WHEN size(syms) >= 2
        |     THEN transform(sequence(0, size(syms) - 2),
        |                    i -> concat(element_at(syms, i + 1), ' ', element_at(syms, i + 2)))
        |     ELSE array() END""".stripMargin
    var cur = types
    val merges = Seq.newBuilder[(Long, String, String, String, Long, Long, Long, Long)]
    var exhausted = false
    for (k <- 1 to WordPieceMerges if !exhausted) {
      val syms = cur.withColumn("syms", split(trim(col("seq")), " "))
      val symCnt = syms
        .select(col("freq"), explode(col("syms")).as("sym"))
        .groupBy(col("sym"))
        .agg(sum(col("freq")).as("scnt"))
      val best = syms
        .select(col("freq"), explode(expr(pairsOf)).as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("cnt"))
        .withColumn("a", split(col("pair"), " ").getItem(0))
        .withColumn("b", split(col("pair"), " ").getItem(1))
        .join(symCnt.select(col("sym").as("a"), col("scnt").as("cnt_a")), Seq("a"))
        .join(symCnt.select(col("sym").as("b"), col("scnt").as("cnt_b")), Seq("b"))
        .withColumn(
          "score",
          expr(
            """CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000000000
              |     DIV (CAST(cnt_a AS DECIMAL(38,0)) * cnt_b) AS BIGINT)""".stripMargin
          )
        )
        .orderBy(col("score").desc, col("cnt").desc, col("pair").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val r = best(0)
        val pair = r.getAs[String]("pair")
        val Array(a, b) = pair.split(" ", 2)
        val merged = a + b.stripPrefix("##")
        merges += ((k.toLong, a, b, merged, r.getAs[Long]("cnt"),
          r.getAs[Long]("cnt_a"), r.getAs[Long]("cnt_b"), r.getAs[Long]("score")))
        val from = lit(s" $pair ")
        val to = lit(s" $merged ")
        cur = cur
          .withColumn("seq",
            replace(replace(replace(col("seq"), from, to), from, to), from, to))
          .localCheckpoint()
      }
    }
    (merges.result(), cur)
  }

  /** Session-memoized WordPiece fit — merge rules (≤
    * [[WordPieceMerges]] rows) and the final type segmentations
    * (TYPE-bounded), the [[bpeFitArtifacts]] sharing contract.
    */
  private def wordpieceFitArtifacts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    var fit: Option[(Seq[(Long, String, String, String, Long, Long, Long, Long)], DataFrame)] =
      None
    def fitOnce() = { if (fit.isEmpty) fit = Some(wordpieceFit(spark, dir)); fit.get }
    val merges = Artifacts.memo(spark, dir, "wordpiece_fit_merges")(
      fitOnce()._1
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_count",
          "left_count", "right_count", "score_q")
        .repartition(1))
    val types = Artifacts.memo(spark, dir, "wordpiece_fit_types")(fitOnce()._2)
    (merges, types)
  }

  /** Gate readout: the learned WordPiece merge table with both symbol
    * counts and the quantized likelihood score each round maximized.
    */
  def wordpieceFitTable(spark: SparkSession, dir: String): DataFrame =
    wordpieceFitArtifacts(spark, dir)._1

  /** WordPiece encoding of the corpus — per-source compression under
    * the final segmentations; rides the TYPE table exactly like
    * [[bpeEncode]] / [[unigramEncode]].
    */
  def wordpieceEncode(spark: SparkSession, dir: String): DataFrame = {
    val enc = wordpieceFitArtifacts(spark, dir)._2
      .select(col("word"), size(split(trim(col("seq")), " ")).cast("long").as("n_syms"))
    val occ = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    occ
      .join(enc, Seq("word"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_word_occurrences"),
        countDistinct(col("word")).as("n_word_types"),
        sum(col("cnt") * length(col("word"))).as("n_letters"),
        sum(col("cnt") * col("n_syms")).as("n_wp_tokens")
      )
      .withColumn(
        "compression_ppm",
        expr("CAST(CAST(n_wp_tokens AS DECIMAL(38,0)) * 1000000 DIV n_letters AS BIGINT)")
      )
  }

  /** The greedy longest-match-first fold as a generated expression
    * over a `word` column: state (pos, pieces, unk); each step takes
    * the LONGEST vocab piece matching at pos (word-initial form at
    * pos 1, ##-form inside), or declares the whole word [UNK] when
    * nothing matches (BERT's WordpieceTokenizer semantics). The vocab
    * membership map is a broadcast literal (`wm`) — tokenizer
    * inference at 100 TB is exactly this: a bounded-vocab map over
    * the TYPE table, zero shuffles. Branch count = the realized
    * vocab's longest piece, computed from the bounded vocab itself.
    */
  private[graft] def wpGreedyExpr(vocab: Seq[String]): String = {
    val maxPlain = vocab.filter(!_.startsWith("##")).map(_.length).foldLeft(1)(math.max)
    val maxCont = vocab.filter(_.startsWith("##")).map(_.length - 2).foldLeft(1)(math.max)
    val lMax = math.max(maxPlain, maxCont)
    def key(l: Int): String =
      s"CASE WHEN st.pos = 1 THEN substring(word, 1, $l) " +
        s"ELSE concat('##', substring(word, st.pos, $l)) END"
    def cond(l: Int): String =
      s"(st.pos + ${l - 1} <= length(word) AND try_element_at(wm, ${key(l)}) IS NOT NULL)"
    def adv(l: Int): String =
      s"named_struct('pos', st.pos + $l, 'pieces', st.pieces || array(${key(l)}), " +
        "'unk', false)"
    val branches = (lMax to 1 by -1)
      .map(l => s"WHEN ${cond(l)} THEN ${adv(l)}")
      .mkString("\n           ")
    s"""aggregate(
       |  sequence(1, length(word)),
       |  named_struct('pos', 1, 'pieces', CAST(array() AS array<string>), 'unk', false),
       |  (st, _i) -> CASE
       |    WHEN st.unk OR st.pos > length(word) THEN st
       |    $branches
       |    ELSE named_struct('pos', length(word) + 1,
       |                      'pieces', array('[UNK]'), 'unk', true) END)""".stripMargin
  }

  /** WordPiece greedy inference vs the training-time merge replay —
    * the parity sheet a tokenizer owner reads before shipping: BERT's
    * PRODUCTION inference is greedy longest-match over the realized
    * vocab ([[wpGreedyExpr]]), which is NOT the merge order the fit
    * applied, and a character absorbed entirely into merged pieces
    * can leave a later word unmatchable ([UNK]). Per source: UNK
    * occurrence count, token totals under both mechanisms, and the
    * ppm of word occurrences whose greedy segmentation equals the
    * replay segmentation exactly.
    *
    * Scale: the greedy fold rides the TYPE table with the vocab as a
    * broadcast literal (inference memoized per distinct word — the
    * bpeEncode contract); the corpus contributes only (source, word)
    * counts.
    */
  def wordpieceGreedy(spark: SparkSession, dir: String): DataFrame = {
    val types = wordpieceFitArtifacts(spark, dir)._2
    val vocab = types
      .select(explode(split(trim(col("seq")), " ")).as("s"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSeq
      .sorted
    val enc = types
      .withColumn("wm", typedLit(vocab.map(_ -> 1).toMap))
      .withColumn("g", expr(wpGreedyExpr(vocab)))
      .select(
        col("word"),
        split(trim(col("seq")), " ").as("replay"),
        col("g.pieces").as("greedy"),
        col("g.unk").as("is_unk")
      )
    val occ = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    occ
      .join(enc, Seq("word"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_word_occurrences"),
        sum(when(col("is_unk"), col("cnt")).otherwise(0L)).as("unk_occurrences"),
        sum(col("cnt") * size(col("greedy")).cast("long")).as("n_greedy_tokens"),
        sum(col("cnt") * size(col("replay")).cast("long")).as("n_replay_tokens"),
        sum(when(col("greedy") === col("replay"), col("cnt")).otherwise(0L)).as("parity_occ")
      )
      .withColumn(
        "parity_ppm",
        expr("CAST(CAST(parity_occ AS DECIMAL(38,0)) * 1000000 DIV n_word_occurrences AS BIGINT)")
      )
  }

  /** All three trained tokenizer families on one sheet —
    * [[unigramVsBpe]] plus the WordPiece row, every family read from
    * its session fit artifact over the IDENTICAL type table. THE
    * tokenizer-selection table: vocab realized, total tokens,
    * compression ppm, one row per family.
    */
  def tokenizerBakeoff(spark: SparkSession, dir: String): DataFrame = {
    val wpTypes = wordpieceFitArtifacts(spark, dir)._2
      .select(
        col("freq"),
        length(col("word")).cast("long").as("wlen"),
        split(trim(col("seq")), " ").as("syms")
      )
      .localCheckpoint()
    val wAgg = wpTypes.agg(
      sum(col("freq") * col("wlen")).as("n_letters"),
      sum(col("freq") * size(col("syms")).cast("long")).as("n_tokens")
    )
    val wVocab = wpTypes
      .select(explode(col("syms")).as("s"))
      .agg(countDistinct(col("s")).as("n_vocab"))
    val wpRow = wAgg
      .crossJoin(broadcast(wVocab))
      .select(
        lit("wordpiece").as("family"),
        col("n_vocab"),
        col("n_letters"),
        col("n_tokens"),
        expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV n_letters AS BIGINT)")
          .as("compression_ppm")
      )
    unigramVsBpe(spark, dir).unionAll(wpRow)
  }

  /** Term burstiness (the dispersion index var/mean over per-doc
    * counts, zeros included) for the top-20 corpus tokens — Church &
    * Gale's "burstiness": function words spread evenly (ratio ≈ 1 −
    * mean), topical/template words clump (ratio ≫ 1). A high-count,
    * high-burstiness token is boilerplate — the screen that catches
    * template spam that per-doc repetition stats miss because the
    * repetition is ACROSS docs of one template, not within one.
    *
    * Exactness: with D docs, per-token S1 = Σc, S2 = Σc², the
    * population var/mean cross-multiplies to (D·S2 − S1²)·10⁶ div
    * (D·S1) — all integer, decimal-widened so the products can't
    * overflow at corpus scale, one floor division at the end.
    *
    * Scale: one (token, doc) partial-agg shuffle collapses the token
    * stream map-side; token-type-bounded stats after that (the top-20
    * window runs over |vocabulary| rows, not the corpus); D is a
    * 1-row broadcast.
    */
  def tokenBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val stats = perDoc
      .groupBy(col("token"))
      .agg(
        sum(col("c")).as("total_cnt"),
        sum(col("c") * col("c")).as("sum_sq"),
        count(lit(1)).as("doc_freq")
      )
    stats
      // global top-20 as orderBy+limit: plans TakeOrderedAndProject
      // (per-partition heaps + driver merge of 20-row tops), never the
      // vocab-sized single-task window the pre-fixpoint sweep missed
      .orderBy(col("total_cnt").desc, col("token").asc)
      .limit(20)
      .crossJoin(broadcast(Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))))
      .select(
        col("token"),
        col("total_cnt"),
        col("doc_freq"),
        col("n_docs"),
        expr(
          """CAST(((CAST(n_docs AS DECIMAL(38,0)) * sum_sq -
            |       CAST(total_cnt AS DECIMAL(38,0)) * total_cnt) * 1000000)
            |     div (CAST(n_docs AS DECIMAL(38,0)) * total_cnt) AS BIGINT)""".stripMargin
        ).as("burstiness_ppm")
      )
  }

  /** Padding waste of length-bucketed vs arrival-order batching — the
    * dynamic-batching readout of a training dataloader. Fixed batches
    * of [[PadBatch]] docs are formed per source under two orderings
    * (naive = doc_id arrival order; sorted = ascending token length);
    * each batch pads every member to its longest doc, so
    * padded = Σ_batch |batch|·max_len and the waste is
    * (padded − real) / padded in floor-div ppm. Length-sorting is the
    * standard trick that collapses padding overhead; this op measures
    * exactly how much, per source.
    *
    * Scale: token counts are one corpus scan (localCheckpoint'd so
    * the two ordering branches don't re-read); each ordering ranks
    * through [[RankOps.withGroupRank]]'s range-partitioned
    * composition (round 10 — never |sources| sort tasks), then
    * map-side-combined per-batch and per-source rollups of ~|docs|/B
    * groups. All emitted numbers are integers.
    */
  val PadBatch = 8

  def paddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), packTokenCount(col("text")).as("n_tokens"))
      .localCheckpoint()

    // Each ordering ranks through the grouped-RankOps composition
    // (round 10) — full parallelism instead of |sources| sort tasks,
    // bit-identical for these strict orders.
    def branch(strategy: String, order: Seq[Column]): DataFrame =
      RankOps
        .withGroupRank(base, Seq(col("source")), "_rn", order)
        .withColumn("batch", expr(s"(_rn - 1) div $PadBatch"))
        .drop("_rn")
        .groupBy(col("source"), col("batch"))
        .agg(count(lit(1)).as("bn"), max(col("n_tokens")).as("mx"), sum(col("n_tokens")).as("sm"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_batches"),
          sum(col("sm")).as("total_tokens"),
          sum(col("bn") * col("mx")).as("padded_tokens")
        )
        .select(
          col("source"),
          lit(strategy).as("strategy"),
          col("n_batches"),
          col("total_tokens"),
          col("padded_tokens"),
          expr("CAST(CAST((padded_tokens - total_tokens) AS DECIMAL(38,0)) * 1000000 div (padded_tokens) AS BIGINT)").as("waste_ppm")
        )

    branch("naive", Seq(col("doc_id")))
      .unionAll(branch("sorted", Seq(col("n_tokens"), col("doc_id"))))
  }

  /** Deterministic weighted sampling without replacement — 5 docs per
    * source, heavier documents favored: a weight-biased PRIORITY RACE
    * with key (coin32 · 10⁸) div (w), coin32 = the first 8 md5 hex
    * digits of the doc id, smallest keys win. NOTE this is NOT
    * A-ES/exponential-jump sampling (whose key is u^(1/w), i.e.
    * (−ln u)/w races): ranking a uniform coin by h/w yields DIFFERENT
    * inclusion probabilities (two items with w = 1 vs 2: the heavier
    * wins with prob 3/4 here vs 2/3 under A-ES). The contract this
    * operator sells is determinism and monotone weight bias, decided
    * entirely in int64 — no pow/log call and no float comparison can
    * flip a rank between engines — which is what makes a sampled
    * training mix reproducible across pipeline reruns; a calibrated
    * A-ES twin would swap the key for a fixed-point −ln(h)/w table.
    *
    * Scale: one scan, one per-source window over rank-5 survivors —
    * Spark plans the rank filter as WindowGroupLimit, so each
    * partition keeps a 5-row heap per source and the shuffle carries
    * only candidates, not the corpus.
    */
  val SampleK = 5

  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    Tables
      .documents(spark, dir)
      .select(
        col("source"),
        col("doc_id"),
        col("n_chars"),
        expr(s"(${coinSql} * 100000000) div (n_chars + 1)").as("priority")
      )
      // row_number is int32; widen so the oracle's BIGINT can't drift
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= SampleK)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"), col("priority"))
  }

  private val coinSql =
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"

  /** The A-ES-CALIBRATED twin [[weightedSample]]'s scaladoc names as
    * the missing variant (round 10, unlocked by the c64 Gumbel
    * toolkit): Efraimidis–Spirakis weighted sampling without
    * replacement ranks by u^(1/w), equivalently keeps the k SMALLEST
    * (−ln u)/w. Here u = (coin+1)/2⁶⁰ from the doc's 60-bit md5 coin,
    * e64 = 3840 − c64(coin+1) quantizes −64·log₂ u through the
    * integer kernel, and the race key is the fixed-point
    * priority = ⌊e64·2²⁰ / w⌋ with w = n_chars + 1 — the ln→log₂
    * constant scales every key identically and cancels in the
    * per-source ranking, so inclusion probabilities now MATCH A-ES
    * (P(i wins) ∝ w_i pairwise) up to the 1/64-bit log quantization
    * and the 2²⁰ fixed point; both engines take the same floors, ties
    * break by doc_id. e64 = 0 (the probability-2⁻⁶⁰ max coin) needs
    * no clamp — key 0 just wins its source, deterministically.
    *
    * Scale: one scan, the same per-source rank-5 WindowGroupLimit
    * prune as [[weightedSample]].
    */
  def weightedSampleAes(spark: SparkSession, dir: String): DataFrame = {
    val c64 = graft.functions.VectorExpressions.c64Log2 _
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    Tables
      .documents(spark, dir)
      .select(
        col("source"),
        col("doc_id"),
        col("n_chars"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("bigint").as("coin")
      )
      .withColumn("e64", lit(64L * 60) - c64(col("coin") + lit(1L)))
      .withColumn("priority", expr("e64 * 1048576 DIV (n_chars + 1)"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= SampleK)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"), col("priority"))
  }

  /** Keyness terms per language — which tokens are OVER-represented
    * in one slice vs the rest of the corpus (the Fightin'-Words /
    * log-odds corpus-comparison primitive; tfidf ranks within a
    * document, this ranks a SLICE against its complement). With
    * add-one smoothing, odds ratio = ((a+1)(d+1)) / ((b+1)(c+1)) for
    * a = token count in the language, b = token count elsewhere,
    * c/d = all other tokens in/out — emitted as floor-div ppm of
    * exact DECIMAL products, so the gate is engine-exact with no log.
    * Top 5 per language by (or_ppm desc, token asc).
    *
    * Scale: one map-side-combined (lang, token) count agg; the
    * margins fold from that table and broadcast back; the top-k is a
    * per-lang WindowGroupLimit over the vocabulary, never tokens.
    */
  val KeynessTopK = 5

  def keynessTerms(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .documents(spark, dir)
      .select(col("lang"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("a_raw"))
    val tokTotals = counts.groupBy(col("token")).agg(sum(col("a_raw")).as("tok_total"))
    val langTotals = counts.groupBy(col("lang")).agg(sum(col("a_raw")).as("lang_total"))
    val grand = counts.agg(sum(col("a_raw")).as("grand"))
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(col("or_ppm").desc, col("token").asc)
    // tokTotals is VOCABULARY-sized (one row per distinct token): at
    // 100 TB a Heaps-law vocabulary is 10^8-10^9 rows, so it must
    // NEVER carry a broadcast hint (driver/executor OOM) — it
    // shuffle-joins on token (counts is already token-keyed, so the
    // exchange is co-partition-friendly; AQE may still choose to
    // broadcast when the measured size is tiny, which is fine — the
    // point is not to FORCE it). langTotals (≤ #langs) and grand
    // (1 row) stay hinted: provably bounded.
    counts
      .join(tokTotals, Seq("token"))
      .join(broadcast(langTotals), Seq("lang"))
      .crossJoin(broadcast(grand))
      .select(
        col("lang"),
        col("token"),
        col("a_raw").as("a"),
        (col("tok_total") - col("a_raw")).as("b"),
        (col("lang_total") - col("a_raw")).as("c"),
        (col("grand") - col("tok_total") - col("lang_total") + col("a_raw")).as("d")
      )
      .withColumn(
        "or_ppm",
        expr(
          """CAST(((CAST(a AS DECIMAL(38,0)) + 1) * (CAST(d AS DECIMAL(38,0)) + 1) * 1000000)
            |     div ((CAST(b AS DECIMAL(38,0)) + 1) * (CAST(c AS DECIMAL(38,0)) + 1))
            |     AS BIGINT)""".stripMargin
        )
      )
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= KeynessTopK)
      .select(col("lang"), col("rnk"), col("token"), col("a"), col("b"), col("c"),
        col("d"), col("or_ppm"))
  }

  /** Equal-token-MASS corpus sharding: split the corpus (in stable
    * doc_id order) into 10 shards of equal token mass — the shard
    * manifest a training run actually wants (equal WORK per shard,
    * not equal doc count; a shard of long documents must hold fewer
    * of them). Shard of a doc = floor(start_offset · S / total): a
    * pure function of the exact prefix sum, so boundaries are
    * deterministic and a re-run with more executors produces the
    * identical manifest.
    *
    * Scale: the prefix sum is the point — computed with RankOps'
    * range-partitioned running-sum composition (one range shuffle on
    * doc_id + parallel per-partition cumsums + a ledger of partition
    * subtotals), never a single-task window; the grand total arrives
    * with the ledger, no second pass. Products route through
    * DECIMAL(38,0) (10^13 tokens × 10^6 would wrap int64).
    */
  val MassShardCount = 10

  def massShards(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select(col("doc_id"), packTokenCount(col("text")).as("n_toks"))
    val (ranked, total) = RankOps.withGlobalRankAndRunningSum(
      base, col("n_toks"), "_rnk", "cum", Seq(col("doc_id").asc))
    val t = math.max(total, 1L)
    ranked
      .withColumn(
        "shard",
        expr(s"CAST(CAST(cum - n_toks AS DECIMAL(38,0)) * $MassShardCount DIV $t AS BIGINT)")
      )
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("mass"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc")
      )
      .withColumn(
        "mass_ppm",
        expr(s"CAST(CAST(mass AS DECIMAL(38,0)) * 1000000 DIV $t AS BIGINT)")
      )
  }

  /** Heaps'-law vocabulary growth curve: cumulative corpus tokens vs
    * cumulative DISTINCT token types at ten doc-id-ordered
    * checkpoints. THE capacity-planning readout for vocabulary-keyed
    * state (BPE fit, TF-IDF dictionaries, embedding tables): if types
    * still grow near-linearly at the last decile, every
    * vocabulary-bounded structure must be sized for open growth; a
    * flattening curve licenses fixed-size vocab budgets at 100 TB.
    *
    * Exactness without a global sort: a type's decile is the decile
    * of its FIRST doc (min doc_id per type — one aggregate), and the
    * cumulative frame is a prefix sum over a ≤10-row per-decile
    * table, computed by exploding each decile row to every decile ≥
    * it (a 10→55-row `sequence` explode — no partition-less window,
    * no non-equi join). The doc-id span is one bounded driver scalar
    * (same discipline as RankOps' partition ledger).
    *
    * Scale: two scan-bound passes (per-doc token counts; the
    * type-first-occurrence aggregate on the token shuffle every vocab
    * query pays) — nothing corpus-sized is materialized. All
    * arithmetic integer (doc_id×10 fits int64 to 9·10¹⁷ docs).
    */
  val HeapsDeciles = 10

  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // max() is NULL on an empty corpus — short-circuit to an empty
    // frame instead of throwing an opaque NPE from getLong.
    val maxRow = docs.agg(max(col("doc_id"))).head()
    if (maxRow.isNullAt(0))
      return spark
        .range(0)
        .selectExpr(
          "id AS decile", "id AS cum_docs", "id AS cum_tokens", "id AS cum_types")
    val span = maxRow.getLong(0) + 1L
    def decileOf(idCol: String): Column =
      expr(s"CAST($idCol * $HeapsDeciles DIV $span AS BIGINT) + 1")
    val mass = docs
      .select(
        decileOf("doc_id").as("dec"),
        size(tokens(lower(col("text")))).cast("long").as("n_toks")
      )
      .groupBy(col("dec"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
    val types = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("t"))
      .groupBy(col("t"))
      .agg(min(col("doc_id")).as("first_doc"))
      .select(decileOf("first_doc").as("dec"))
      .groupBy(col("dec"))
      .agg(count(lit(1)).as("new_types"))
    mass
      .join(types, Seq("dec"), "left")
      .select(
        explode(sequence(col("dec"), lit(HeapsDeciles.toLong))).as("decile"),
        col("n_docs"),
        col("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types")
      )
      .groupBy(col("decile"))
      .agg(
        sum(col("n_docs")).as("cum_docs"),
        sum(col("n_toks")).as("cum_tokens"),
        sum(col("new_types")).as("cum_types")
      )
  }

  /** Zipf rank-frequency fit table: the top-[[ZipfTopK]] token types
    * with their exact global rank and the integer-ppm Zipf ratio
    * (freq·rank·10⁶ DIV freq₁ — exactly 10⁶ everywhere iff the corpus
    * follows f_r = f_1/r). A heavy right tail of ratios far below 10⁶
    * means frequency mass is flatter than Zipf (boilerplate-dominated
    * corpora); the readout pairs with [[heapsLaw]] as the corpus
    * statistics panel.
    *
    * Scale: the word count is the standard token shuffle; the global
    * rank is RankOps' range-partitioned exact rank (NO partition-less
    * window, NO sort-limit on the driver); everything after the
    * rank ≤ K filter is K rows. The ratio is DECIMAL(38,0)-mediated
    * (freq·rank·10⁶ wraps int64 at 10 TB token counts) and DIV floors
    * identically to the oracle's HUGEINT `//`.
    */
  val ZipfTopK = 50

  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val wc = Tables
      .documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = RankOps
      .withGlobalRank(wc, "rnk", Seq(col("cnt").desc, col("t").asc))
      .filter(col("rnk") <= ZipfTopK)
    val f1 = ranked.agg(max(col("cnt")).as("f1"))
    ranked
      .crossJoin(broadcast(f1))
      .select(
        col("rnk"),
        col("t").as("term"),
        col("cnt").as("freq"),
        expr("CAST(CAST(cnt AS DECIMAL(38,0)) * rnk * 1000000 DIV f1 AS BIGINT)")
          .as("zipf_ratio_ppm")
      )
  }

  /** Leakage-safe CONTENT-keyed train/val/test split — the fix
    * split_leakage quantifies the need for: assign each document by
    * the md5 bucket of its near-dup cluster's CANONICAL id (singleton
    * docs: their own id), so every member of a duplicate cluster
    * lands in the SAME split and eval answers cannot leak into
    * training through a near-copy. Emitted as the 3×3 migration grid
    * (id-keyed split × content-keyed split, doc counts): the diagonal
    * is unchanged mass, off-diagonal rows are exactly the documents
    * the honest split moves.
    *
    * Scale: the cluster table is the session pair-graph ARTIFACT
    * (pair-bounded); one left join against the doc directory, one
    * 9-cell aggregate — no text moves.
    */
  def contentSplit(spark: SparkSession, dir: String): DataFrame = {
    val clusters = GraphOps
      .dedupClusters(spark, dir)
      .select(col("doc_id"), col("canonical_id"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("canonical_id"), col("doc_id")))
      .select(
        splitExpr(col("doc_id")).as("id_split"),
        splitExpr(col("ckey")).as("content_split")
      )
      .groupBy(col("id_split"), col("content_split"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // ---------------------------------------------------------------- PII

  /** PII pattern classes — explicit ASCII character classes only (the
    * regex-seam discipline: `\s`/`\p{L}` shorthand tables differ by
    * engine Unicode vintage; these don't). The three shapes every
    * public corpus-prep pipeline (C4, Dolma, RefinedWeb) scans for:
    * email, NANP-style dashed phone, dotted-quad IPv4. Kept in the
    * Java/RE2 COMMON dialect (character classes, bounded/greedy
    * quantifiers, no backreferences/lookaround) so Spark and the
    * DuckDB oracle match byte-for-byte.
    */
  private[graft] val EmailRe = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private[graft] val Ipv4Re =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** The documents corpus with DETERMINISTIC PII-shaped strings
    * appended — the text twin of mm_image_pixels' synthetic PNGs: the
    * raw corpus is letters-only (no digit or '@' anywhere), so a PII
    * gate over it would be vacuously green at every SF. Each doc
    * gains an email iff doc_id % 3 = 0, a dashed phone iff % 5 = 0,
    * a dotted-quad IP iff % 4 = 0, all derived from doc_id by pure
    * integer arithmetic — the DuckDB oracle re-derives the SAME text
    * relationally, so the scan/redaction regexes are verified against
    * an independent engine, not against themselves.
    */
  /** ONE definition of the injection expression (over columns
    * `doc_id`, `text`) — shared by [[piiDocs]] and the ingest edge
    * (`streaming.IngestEdge.projections`) so the two transports cannot
    * drift from each other or from the oracle's CTE.
    */
  private[graft] def piiInjectExpr: Column =
    expr(
      """concat(text,
        | CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',
        |   CAST(doc_id AS STRING), '@mail',
        |   CAST(doc_id % 7 AS STRING), '.example.com') ELSE '' END,
        | CASE WHEN doc_id % 5 = 0 THEN concat(' call ',
        |   CAST(200 + doc_id % 800 AS STRING), '-',
        |   CAST(100 + doc_id % 900 AS STRING), '-',
        |   CAST(1000 + doc_id % 9000 AS STRING)) ELSE '' END,
        | CASE WHEN doc_id % 4 = 0 THEN concat(' host 10.',
        |   CAST(doc_id % 256 AS STRING), '.',
        |   CAST(doc_id * 7 % 256 AS STRING), '.',
        |   CAST(doc_id * 13 % 256 AS STRING)) ELSE '' END)""".stripMargin
    )

  /** ONE definition of the redaction projection (over columns
    * `doc_id`, `text`): per-class match counts + the sentinel
    * rewrite — [[piiRewrite]] and the ingest stream share it.
    */
  private[graft] def piiRedactProjection(docs: DataFrame): DataFrame = {
    def n(re: String): Column =
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    docs
      .select(
        col("doc_id"),
        n(EmailRe).as("n_emails"),
        n(PhoneRe).as("n_phones"),
        n(Ipv4Re).as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), EmailRe, "<EMAIL>"),
            PhoneRe,
            "<PHONE>"),
          Ipv4Re,
          "<IP>"
        ).as("clean_text")
      )
  }

  private[graft] def piiDocs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        col("source"),
        piiInjectExpr.as("text")
      )

  /** PII disclosure profile per source: docs scanned, docs with ANY
    * match, exact occurrence counts per class, and the floor-div ppm
    * of affected docs — the run-before-release audit every training
    * corpus ships (the governance family's k-anonymity/l-diversity
    * measure disclosure risk; this measures raw identifier leakage).
    *
    * Scale: per-row regex counting inside the scan stage (no UDF —
    * `regexp_extract_all` is codegen'd), then ONE map-side-combined
    * aggregate of #sources groups. Scan-bound at 100 TB, like
    * charClassProfile.
    */
  def piiProfile(spark: SparkSession, dir: String): DataFrame = {
    def n(re: String): Column =
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    piiDocs(spark, dir)
      .select(
        col("source"),
        n(EmailRe).as("ne"),
        n(PhoneRe).as("np"),
        n(Ipv4Re).as("ni")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ne") > 0 || col("np") > 0 || col("ni") > 0, 1L)
          .otherwise(0L)).as("n_pii_docs"),
        sum(col("ne")).as("n_emails"),
        sum(col("np")).as("n_phones"),
        sum(col("ni")).as("n_ips")
      )
      .withColumn(
        "pii_doc_ppm",
        expr("CAST(CAST(n_pii_docs AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
      )
  }

  /** PII REDACTION rewrite — the action piiProfile only reports: emit
    * the corpus with every match replaced by a typed sentinel
    * (`<EMAIL>`/`<PHONE>`/`<IP>`), plus per-doc match counts. Each
    * injected PII string is a whole whitespace-delimited token, so
    * redaction conserves the whitespace-token count exactly (one
    * sentinel per match) — the token-conservation contract the spec
    * asserts, span_rewrite's clean_tokens discipline applied to
    * in-place substitution. Replacement order (email → phone → IP)
    * is fixed and identical in the oracle; the three patterns cannot
    * overlap on this corpus (emails carry no dashes between digit
    * groups, phones no dots, IPs no '@') and the sentinels contain no
    * digits, so the chain is order-stable anyway.
    *
    * Scale: pure per-row column work in the scan stage, no shuffle at
    * all — at 100 TB this is the map-only pass it should be.
    */
  def piiRewrite(spark: SparkSession, dir: String): DataFrame =
    piiRedactProjection(piiDocs(spark, dir))

  /** Card-shaped token: 16 digits starting with 4 (the test-range
    * IIN). Shape alone is NOT identification — [[piiLuhnAudit]] pairs
    * it with the checksum.
    */
  private[graft] val CardRe = "4[0-9]{15}"

  /** SQL for the Luhn sum of a 16-digit string expression — UNROLLED
    * (16 substr/CAST terms, no HOF: higher-order functions are
    * interpreted in Spark and this must stay codegen), and built ONCE
    * here so the Spark plan and the DuckDB oracle evaluate the SAME
    * text (substr/CASE/integer arithmetic — the engines' common
    * dialect). Left position i of 16 sits at even distance from the
    * right iff i is odd, so odd-i digits double (with the −9
    * fold-down); a valid number sums ≡ 0 (mod 10).
    */
  private[graft] def luhnSumSql(tok: String): String =
    (1 to 16).map { i =>
      val d = s"CAST(substr($tok, $i, 1) AS INT)"
      if (i % 2 == 1) s"(CASE WHEN $d > 4 THEN 2 * $d - 9 ELSE 2 * $d END)"
      else d
    }.mkString(" + ")

  /** The card-injected corpus (mirrored in the oracle CTE): a VALID
    * Luhn card on doc_id % 7 = 0 docs and an INVALID one (check digit
    * +5 mod 10 — never valid) on % 11 = 0 docs, both derived from
    * doc_id by the same fixed-template arithmetic. The check digit of
    * `4929 00000 dddddd c` is a LINEAR function of doc_id's low six
    * digits (fixed digits contribute 8+9+4+9 = 30 to the Luhn sum),
    * so both engines derive it in pure integer SQL — the injection
    * and the verifying checksum are INDEPENDENT formulations that
    * must agree, which is what makes the gate a real Luhn test.
    */
  /** The card-injection SQL fragments, parameterized ONLY by the
    * integer-division operator (`DIV` in Spark SQL, `//` in DuckDB)
    * so both engines build from one template. `cardBaseSql` is the
    * 15-digit payload; `cardSumSql(div)` its Luhn sum (fixed digits
    * 4+9+2+9 at alternating positions contribute 30; doc_id's low six
    * digits fill the rest, odd-from-right ones doubled).
    */
  private[graft] val cardBaseSql: String =
    // STRING, not VARCHAR: Spark needs the alias (VARCHAR requires a
    // length there) and DuckDB accepts both
    "concat('4929', '00000', lpad(CAST(doc_id % 1000000 AS STRING), 6, '0'))"

  private[graft] def cardSumSql(div: String): String = {
    def digit(pow: Long): String =
      if (pow == 1L) "(doc_id % 10)" else s"(doc_id $div $pow % 10)"
    def dd(pow: Long): String = {
      val d = digit(pow)
      s"(CASE WHEN $d > 4 THEN 2 * $d - 9 ELSE 2 * $d END)"
    }
    s"(30 + ${digit(100000L)} + ${dd(10000L)} + ${digit(1000L)} + ${dd(100L)} + ${digit(10L)} + ${dd(1L)})"
  }

  private[graft] def piiCardDocs(spark: SparkSession, dir: String): DataFrame = {
    val sumExpr = cardSumSql("DIV")
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        col("source"),
        expr(
          s"""concat(text,
             | CASE WHEN doc_id % 7 = 0 THEN concat(' card ', $cardBaseSql,
             |   CAST((10 - $sumExpr % 10) % 10 AS STRING)) ELSE '' END,
             | CASE WHEN doc_id % 11 = 0 THEN concat(' card ', $cardBaseSql,
             |   CAST(((10 - $sumExpr % 10) % 10 + 5) % 10 AS STRING)) ELSE '' END)""".stripMargin
        ).as("text")
      )
  }

  /** Checksum-validated card audit per source — detection BEYOND the
    * regex shape: card-shaped tokens are extracted, then each is
    * Luhn-verified digit-by-digit ([[luhnSumSql]], the industry
    * checksum every card number carries), splitting shape hits into
    * validated identifiers vs false positives. The injected corpus
    * plants both kinds, so the gate fails if either the checksum
    * arithmetic or the extraction drifts — and because the injection
    * derives the check digit by a DIFFERENT formulation (linear in
    * doc_id's digits) than the verifier (positional over the string),
    * agreement is a real end-to-end Luhn proof on both engines.
    *
    * Scale: per-row extract + 16-term integer sum inside the scan
    * stage (one posexplode of the per-doc match array, bounded by
    * matches-per-doc), then a #sources aggregate. Scan-bound.
    */
  def piiLuhnAudit(spark: SparkSession, dir: String): DataFrame =
    piiCardDocs(spark, dir)
      .select(
        col("source"),
        explode(regexp_extract_all(col("text"), lit(CardRe), lit(0))).as("tok")
      )
      .withColumn("luhn_ok", expr(s"(${luhnSumSql("tok")}) % 10 = 0"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_cards"),
        sum(when(col("luhn_ok"), 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("luhn_ok"), 0L).otherwise(1L)).as("n_invalid")
      )

  // ------------------------------------------------ boilerplate lines

  /** Corpus-wide doc-frequency threshold above which an exact LINE is
    * boilerplate (CCNet/RefinedWeb line-level dedup: a line repeated
    * verbatim across many documents is template chrome — nav bars,
    * footers, cookie banners — not content). Injected template lines
    * have df that scales with the corpus (n/2 down to ~n/21 per
    * variant), so the threshold bites at every SF, while organic
    * lines (each raw doc is one newline-free line) stay below it
    * except inside large exact-dup clusters — which is exactly the
    * intended semantics.
    */
  private[graft] val BoilerDf = 10

  /** ONE definition of the boilerplate-injected corpus (the
    * [[piiInjectExpr]] pattern — the raw corpus is newline-free, so a
    * line-dedup gate over it would be vacuous): deterministic
    * template lines — a nav bar on even doc_ids, 4 footer variants on
    * % 3 = 0, 3 newsletter variants on % 7 = 0 — appended with
    * chr(10) separators, derived from doc_id by integer arithmetic
    * the DuckDB oracle re-derives relationally.
    */
  private[graft] def boilerplateInjectExpr: Column =
    expr(
      """concat(text,
        | CASE WHEN doc_id % 2 = 0 THEN concat(chr(10),
        |   'nav home products pricing about contact') ELSE '' END,
        | CASE WHEN doc_id % 3 = 0 THEN concat(chr(10),
        |   'copyright footer all rights reserved edition ',
        |   CAST(doc_id % 4 AS STRING)) ELSE '' END,
        | CASE WHEN doc_id % 7 = 0 THEN concat(chr(10),
        |   'subscribe to the newsletter for updates issue ',
        |   CAST(doc_id % 3 AS STRING)) ELSE '' END)""".stripMargin
    )

  private[graft] def boilerplateDocs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), boilerplateInjectExpr.as("text"))

  /** Per-(doc, position, line-HASH) rows: the line strings exist only
    * inside the scan stage (Generate → project to a 60-bit md5 long)
    * and are pruned before any exchange — the hashed-postings
    * discipline at line granularity. Collision risk is gate-bounded:
    * the oracle computes doc frequency on the line STRINGS.
    */
  private def boilerLines(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        col("source"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line"))
      )
      .select(
        col("doc_id"),
        col("source"),
        col("pos"),
        conv(substring(md5(col("line")), 1, 15), 16, 10).cast("long").as("h")
      )

  /** Line hashes with corpus doc-frequency ≥ [[BoilerDf]] — the
    * boilerplate set. Size is bounded by n_lines / BoilerDf in the
    * worst case and in practice by the number of distinct TEMPLATES,
    * which is what makes the rewrite's join-back pair-bounded.
    */
  private def boilerFreq(lines: DataFrame): DataFrame =
    lines
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerDf)

  /** Line-level boilerplate PROFILE per source: line volume, how many
    * line occurrences are corpus-boilerplate (exact line shared by
    * ≥ [[BoilerDf]] docs), and the floor-div ppm — the audit that
    * prices a line-dedup pass before running it (CCNet reports ~70%
    * of common-crawl lines boilerplate; this is that number for this
    * corpus).
    *
    * Scale: one Generate inside the scan (strings never shuffle: only
    * 60-bit line hashes + positions move), a map-side-combined
    * doc-frequency aggregate, one long-keyed join, and a #sources
    * rollup. The doc directory count comes from its own tiny
    * aggregate, not a mixed countDistinct (no Expand over the line
    * stream).
    */
  def boilerplateProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = boilerplateDocs(spark, dir)
    val lines = boilerLines(docs)
    val perSrcDocs =
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    lines
      .join(boilerFreq(lines.select(col("doc_id"), col("h"))), Seq("h"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("nd").isNotNull, 1L).otherwise(0L)).as("n_boiler_lines")
      )
      .join(perSrcDocs, Seq("source"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_lines"),
        col("n_boiler_lines"),
        expr(
          "CAST(CAST(n_boiler_lines AS DECIMAL(38,0)) * 1000000 DIV n_lines AS BIGINT)"
        ).as("boiler_line_ppm")
      )
  }

  /** Boilerplate df-threshold PRICE SHEET: the removed line mass at
    * candidate thresholds {5, 10, 20}, all from ONE line-frequency
    * aggregate (the sweep-as-conditional-counts discipline — no
    * per-threshold rescan). A 100 TB pipeline picks its threshold
    * from this sheet: too low eats content inside dup clusters, too
    * high ships template chrome into training; the occurrence ppm
    * column is the token-mass price of each choice.
    *
    * Scale: one Generate + one map-side-combined (hash → df, occ)
    * aggregate, then a 1-row rollup unpivoted to 3 threshold rows.
    */
  def boilerplateDfSweep(spark: SparkSession, dir: String): DataFrame = {
    val lines = boilerLines(boilerplateDocs(spark, dir))
    val perLine = lines
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
    val tot = perLine
      .agg(
        sum(col("occ")).as("total_occ"),
        Seq(5, 10, 20).flatMap { k =>
          Seq(
            sum(when(col("nd") >= k, 1L).otherwise(0L)).as(s"nl_$k"),
            sum(when(col("nd") >= k, col("occ")).otherwise(0L)).as(s"no_$k")
          )
        }: _*
      )
    tot
      .select(
        expr(
          Seq(5, 10, 20)
            .map(k => s"${k}L, nl_$k, no_$k")
            .mkString("stack(3, ", ", ", ")")
        ).as(Seq("df_min", "n_boiler_lines", "n_boiler_occurrences")),
        col("total_occ")
      )
      .select(
        col("df_min").cast("long").as("df_min"),
        col("n_boiler_lines"),
        col("n_boiler_occurrences"),
        expr(
          "CAST(CAST(n_boiler_occurrences AS DECIMAL(38,0)) * 1000000 DIV total_occ AS BIGINT)"
        ).as("boiler_occ_ppm")
      )
  }

  /** Line-level boilerplate REWRITE — the action the profile prices:
    * every line whose exact content appears in ≥ [[BoilerDf]] docs is
    * dropped; the doc is rebuilt from its surviving lines in order.
    * Per-doc counts make the conservation contract checkable:
    * n_lines − n_dropped = lines in clean_text (the spec asserts it).
    *
    * Scale: the boilerplate SET (df ≥ threshold) is template-bounded;
    * per-doc drop positions come back as ONE pair-bounded join
    * (doc_id → int array), and the rebuild is a row-local lambda over
    * the doc's own lines in the directory scan — corpus text never
    * shuffles, the spanRewriteAnyAlign rebuild shape at line
    * granularity.
    */
  def boilerplateRewrite(spark: SparkSession, dir: String): DataFrame = {
    val docs = boilerplateDocs(spark, dir)
    val lines = boilerLines(docs).select(col("doc_id"), col("pos"), col("h"))
    val dropPos = lines
      .join(boilerFreq(lines), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("drop_pos"))
    docs
      .join(dropPos, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        expr("CAST(size(split(text, chr(10))) AS BIGINT)").as("n_lines"),
        when(col("drop_pos").isNull, 0L)
          .otherwise(size(col("drop_pos")).cast("long")).as("n_dropped"),
        expr(
          """array_join(
            |  transform(
            |    filter(transform(split(text, chr(10)), (l, i) -> struct(l AS l, i AS i)),
            |           s -> drop_pos IS NULL OR NOT array_contains(drop_pos, s.i)),
            |    s -> s.l),
            |  chr(10))""".stripMargin
        ).as("clean_text")
      )
  }

  // ----------------------------------------------------- secret scan

  /** Secret-shaped token: a 24-char lowercase-alphanumeric run — the
    * length/charset prefilter every credential scanner starts from.
    * Shape alone is NOT detection ([[secretScan]] pairs it with the
    * character-diversity test, the integer-exact stand-in for the
    * Shannon-entropy threshold scanners use: logs are transcendental
    * and would not hash-match across engines, distinct-char counts
    * do).
    */
  private[graft] val SecretShapeRe = "[a-z0-9]{24}"
  private[graft] val SecretAlphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  private[graft] val SecretDiversityMin = 13

  /** The injected secret token: 24 alphabet positions
    * (doc_id * 5 + i) % 36 for i = 0..23 — the offsets i are 24
    * DISTINCT residues mod 36, so the token has 24 distinct chars for
    * EVERY doc_id (always above the diversity threshold), while the
    * decoy (one char repeated 24×) always sits at 1. Unrolled concat,
    * no HOF; one template string shared with the oracle.
    */
  private[graft] val secretTokenSql: String =
    (0 until 24)
      .map(i =>
        s"substr('$SecretAlphabet', CAST(1 + (doc_id * 5 + $i) % 36 AS INT), 1)")
      .mkString("concat(", ", ", ")")

  /** The secret-injected corpus (the [[piiInjectExpr]] pattern): a
    * HIGH-diversity key-shaped token on doc_id % 6 = 0 docs and a
    * LOW-diversity decoy (same shape regex, one repeated char) on
    * % 9 = 0 docs — the false-positive class a naive shape-only
    * scanner cannot reject.
    */
  /** ONE definition of the secret-injection expression (over columns
    * `doc_id`, `text`) — shared by [[secretDocs]] and the composite
    * [[cleanPipeline]] corpus.
    */
  private[graft] def secretInjectExpr: Column =
    expr(
      s"""concat(text,
         | CASE WHEN doc_id % 6 = 0 THEN concat(' key ', $secretTokenSql)
         |   ELSE '' END,
         | CASE WHEN doc_id % 9 = 0 THEN concat(' key ',
         |   repeat(substr('$SecretAlphabet', CAST(1 + doc_id % 26 AS INT), 1), 24))
         |   ELSE '' END)""".stripMargin
    )

  private[graft] def secretDocs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), secretInjectExpr.as("text"))

  /** Credential/secret scan per source: shape-regex candidates split
    * by the character-diversity classifier into likely secrets vs
    * low-entropy false positives, plus the floor-div ppm of affected
    * docs — the leak audit (API keys, tokens) every corpus release
    * runs alongside the PII pass.
    *
    * Scale: per-row regex extract + a row-local diversity lambda over
    * the (bounded) per-doc candidate list, then ONE #sources
    * aggregate. Scan-bound like piiProfile.
    */
  def secretScan(spark: SparkSession, dir: String): DataFrame =
    secretDocs(spark, dir)
      .select(
        col("source"),
        expr(s"regexp_extract_all(text, '$SecretShapeRe', 0)").as("cands")
      )
      .select(
        col("source"),
        size(col("cands")).cast("long").as("nc"),
        expr(
          s"""CAST(size(filter(cands,
             |  t -> size(array_distinct(split(t, ''))) >= $SecretDiversityMin))
             | AS BIGINT)""".stripMargin
        ).as("ns")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_candidates"),
        sum(col("ns")).as("n_secrets"),
        sum(when(col("ns") > 0, 1L).otherwise(0L)).as("n_secret_docs")
      )
      .withColumn(
        "secret_doc_ppm",
        expr("CAST(CAST(n_secret_docs AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
      )

  /** Secret REDACTION rewrite — the action [[secretScan]] only
    * reports, and the classifier's real point: candidates that PASS
    * the diversity test become `<SECRET>`, low-entropy decoys are
    * LEFT IN PLACE (they are content, not credentials — a shape-only
    * redactor would destroy them). Token-wise rewrite over the
    * space-split so the anchored full-token match cannot clip a
    * partial hit; consecutive-space structure survives the rejoin
    * byte-for-byte.
    *
    * Scale: pure per-row lambda in the scan stage, no shuffle at all
    * — the pii_rewrite map-only shape.
    */
  /** The secret predicate over a token named `t` — shared by
    * [[secretRewrite]] and [[cleanPipeline]].
    */
  private[graft] val secretPredSql: String =
    s"t RLIKE '^$SecretShapeRe$$' AND size(array_distinct(split(t, ''))) >= $SecretDiversityMin"

  def secretRewrite(spark: SparkSession, dir: String): DataFrame = {
    val isSecret = secretPredSql
    secretDocs(spark, dir)
      .select(
        col("doc_id"),
        expr(s"CAST(size(filter(split(text, ' '), t -> $isSecret)) AS BIGINT)")
          .as("n_redacted"),
        expr(
          s"""array_join(transform(split(text, ' '),
             |  t -> CASE WHEN $isSecret THEN '<SECRET>' ELSE t END), ' ')""".stripMargin
        ).as("clean_text")
      )
  }

  /** SFT chat-template rendering with role-masked LOSS accounting —
    * the post-training data-prep transform every chat fine-tune runs
    * (Ouyang et al. 2022 style: the rendered conversation trains with
    * loss on ASSISTANT tokens only; user turns are context). Each doc
    * derives a deterministic 4-turn dialog (user/assistant/user/
    * assistant at quarter boundaries q = ⌈n/4⌉ — the synthesis
    * pattern: no chat corpus exists, the discipline under test is the
    * render + mask arithmetic), emits the rendered-string 60-bit
    * fingerprint (so the oracle proves the EXACT template layout,
    * marker placement and all), the loss-bearing token count (the two
    * assistant slices), and the floor-div loss ppm — the capacity
    * number an SFT run plans against, since context tokens cost
    * compute but not gradient signal.
    *
    * Scale: pure row-local slicing + join — fuses into the ingest
    * scan like fim_split; no shuffle at all.
    */
  def sftRenderMask(spark: SparkSession, dir: String): DataFrame =
    sftRenderProjection(Tables.documents(spark, dir))

  /** The SFT transform as a reusable projection over (doc_id, text) —
    * ONE definition, two transports: the batch gate above and
    * `streaming.IngestEdge.projections` plan exactly these Columns.
    */
  private[graft] def sftRenderProjection(docs: DataFrame): DataFrame = {
    val fp = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    docs
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("bigint"))
      .withColumn("q", expr("CAST((n_tokens + 3) DIV 4 AS INT)"))
      .withColumn("u1", expr("slice(toks, 1, q)"))
      .withColumn("a1", expr("slice(toks, q + 1, q)"))
      .withColumn("u2", expr("slice(toks, 2 * q + 1, q)"))
      .withColumn("a2",
        expr("slice(toks, 3 * q + 1, CAST(GREATEST(n_tokens - 3 * q, 0L) AS INT))"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (size(col("u1")) > 0).cast("long")
          .plus((size(col("a1")) > 0).cast("long"))
          .plus((size(col("u2")) > 0).cast("long"))
          .plus((size(col("a2")) > 0).cast("long")).as("n_turns"),
        (size(col("a1")) + size(col("a2"))).cast("bigint").as("n_loss_tokens"),
        fp(
          concat(
            lit("<|user|> "), array_join(col("u1"), " "),
            lit(" <|assistant|> "), array_join(col("a1"), " "),
            lit(" <|user|> "), array_join(col("u2"), " "),
            lit(" <|assistant|> "), array_join(col("a2"), " ")
          )
        ).as("render_fp")
      )
      .withColumn(
        "loss_ppm",
        expr(
          """CAST(CAST(n_loss_tokens AS DECIMAL(38,0)) * 1000000
            |     DIV GREATEST(n_tokens, 1) AS BIGINT)""".stripMargin
        )
      )
  }

  // ── Preference-pair (DPO/RLHF) data prep ──────────────────────────

  /** The preference corpus for the DPO prep (mirrored in the oracle
    * CTE): every base doc plus, for doc_id % 17 = 0, a PLANTED clone
    * (id + 5·10⁹) whose PROMPT half is token-identical to the base
    * but whose response tokens are 'x'-suffixed — the shared-prompt
    * contamination class the leakage audit must catch, derived from
    * doc_id residues so the gate is non-vacuous at every SF (the
    * crawlDocs twin pattern applied to post-training prep). The clone
    * text is rebuilt from the LOWERED letter tokens, so re-tokenizing
    * it yields exactly (prompt ++ suffixed-response).
    */
  private[graft] def dpoCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val clones = base
      .filter(pmod(col("doc_id"), lit(17L)) === 0L)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("p", expr("CAST((n + 1) DIV 2 AS INT)"))
      .select(
        (col("doc_id") + 5000000000L).as("doc_id"),
        expr(
          """array_join(concat(slice(toks, 1, p),
            |  transform(slice(toks, p + 1, CAST(GREATEST(n - p, 0) AS INT)),
            |            t -> concat(t, 'x'))), ' ')""".stripMargin
        ).as("text")
      )
    base.unionByName(clones)
  }

  /** The DPO pair-assembly transform as a reusable projection over
    * (doc_id, text) — ONE definition, two transports (batch gate +
    * `streaming.IngestEdge.projections`), the sftRenderProjection
    * contract.
    *
    * Each doc derives a deterministic preference TRIPLE (the synthesis
    * pattern — no preference corpus exists; the discipline under test
    * is pair assembly, dual-branch rendering, and degenerate-pair
    * accounting): prompt = first ⌈n/2⌉ tokens, CHOSEN response = the
    * remaining tokens, REJECTED response = the chosen tokens REVERSED
    * (deterministic, length-preserving, content-matched — the
    * hardest-negative shape). Both branches render through the SFT
    * chat template and emit 60-bit fingerprints; `prompt_fp` is the
    * pair-level near-dup/leakage key; `is_degenerate` marks pairs
    * whose two branches coincide (responses of ≤ 1 token or palindrome
    * order) — pairs a DPO loader drops because they carry zero
    * preference signal.
    *
    * Scale: pure row-local slicing + fingerprints in the scan stage —
    * the fim_split/sft shape, no shuffle at all.
    */
  private[graft] def dpoPairProjection(docs: DataFrame): DataFrame = {
    val fp = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    docs
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("bigint"))
      .withColumn("p", expr("CAST((n_tokens + 1) DIV 2 AS INT)"))
      .withColumn("prompt", expr("slice(toks, 1, p)"))
      .withColumn("resp",
        expr("slice(toks, p + 1, CAST(GREATEST(n_tokens - p, 0L) AS INT))"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("p").cast("bigint").as("n_prompt_tokens"),
        size(col("resp")).cast("bigint").as("n_response_tokens"),
        fp(array_join(col("prompt"), " ")).as("prompt_fp"),
        fp(
          concat(lit("<|user|> "), array_join(col("prompt"), " "),
            lit(" <|assistant|> "), array_join(col("resp"), " "))
        ).as("chosen_fp"),
        fp(
          concat(lit("<|user|> "), array_join(col("prompt"), " "),
            lit(" <|assistant|> "), array_join(reverse(col("resp")), " "))
        ).as("rejected_fp"),
        (array_join(col("resp"), " ") === array_join(reverse(col("resp")), " "))
          .cast("long").as("is_degenerate")
      )
  }

  /** Gate query: the assembled preference pairs over [[dpoCorpus]]. */
  def dpoPairs(spark: SparkSession, dir: String): DataFrame =
    dpoPairProjection(dpoCorpus(spark, dir))

  /** Pair-level LEAKAGE audit — the `split_leakage` discipline applied
    * to preference data: two pairs sharing a PROMPT across the
    * train/val/test assignment contaminate the eval (the model saw the
    * test prompt's chosen answer in training). Mechanism: exact
    * prompt-fingerprint self-join (60-bit keys shuffle, strings never
    * do; a<b canonical orientation), bucketed by [[splitExpr]] of both
    * ends — off-diagonal cells are the leak. The planted %17 clones
    * guarantee shared prompts exist at every SF. At 100 TB the exact
    * pass widens to the near-dup prompt graph by riding the minhash
    * artifact keyed on prompt text — same matrix, same join shape.
    */
  def dpoLeakage(spark: SparkSession, dir: String): DataFrame = {
    // both self-join sides consume the projection; materialize the
    // 2-column slice once instead of tokenizing+fingerprinting the
    // twin corpus per side (round 11)
    val pf = dpoPairs(spark, dir).select(col("doc_id"), col("prompt_fp")).localCheckpoint()
    val a = pf.select(col("prompt_fp"), col("doc_id").as("doc_a"))
    val b = pf.select(col("prompt_fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("prompt_fp"))
      .filter(col("doc_a") < col("doc_b"))
      .select(splitExpr(col("doc_a")).as("split_a"), splitExpr(col("doc_b")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The crawl-fetch corpus for the revisit audit (mirrored in the
    * oracle CTE): every base doc is one fetch of its own URL
    * (`http://site{id%7}.example.com/p{id}` — unique per doc), and two
    * deterministic REVISIT classes are unioned in: docs with
    * doc_id % 11 = 0 gain a changed-content refetch (id + 3·10⁹, same
    * URL, text || ' updated') and docs with doc_id % 13 = 0 gain a
    * byte-identical refetch (id + 4·10⁹) — the formattingNoisyDocs
    * twin pattern applied to the crawl layer, so both revisit classes
    * exist at every SF.
    */
  private[graft] def crawlDocs(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("http://site"),
      pmod(col("doc_id"), lit(7L)).cast("string"),
      lit(".example.com/p"),
      col("doc_id").cast("string")
    )
    val base = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), url.as("url"), col("text"))
    val changed = base
      .filter(pmod(col("doc_id"), lit(11L)) === 0L)
      .select((col("doc_id") + 3000000000L).as("doc_id"), col("source"), col("url"),
        concat(col("text"), lit(" updated")).as("text"))
    val identical = base
      .filter(pmod(col("doc_id"), lit(13L)) === 0L)
      .select((col("doc_id") + 4000000000L).as("doc_id"), col("source"), col("url"),
        col("text"))
    base.unionByName(changed).unionByName(identical)
  }

  /** Crawl-layer revisit audit — the URL-keyed dedup statistic a
    * crawler computes BEFORE any content-level pass (CommonCrawl's
    * digest dedup): per source, fetches vs distinct URLs, and the
    * revisit mass split into byte-IDENTICAL refetches (pure waste —
    * dropped by URL+digest alone) vs CHANGED content (the freshness
    * signal; only a content-level near-dup pass can price how much of
    * it is still redundant). The split is what decides whether the
    * cheap crawl-layer dedup suffices or the expensive content passes
    * must run — upstream of everything else on this board.
    *
    * Scale: fingerprints are 60-bit md5 longs (URL strings and text
    * never shuffle past the first aggregate); two map-side-combined
    * aggregates — (url_fp → fetch count, distinct content count) then
    * the #sources rollup. Identical-revisit counting is exact: a URL
    * with f fetches and d distinct digests has f − d identical
    * refetches and d − 1 changed ones.
    */
  def crawlRevisitAudit(spark: SparkSession, dir: String): DataFrame = {
    val fp = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    crawlDocs(spark, dir)
      .select(col("source"), fp(col("url")).as("u"), fp(col("text")).as("t"))
      .groupBy(col("source"), col("u"))
      .agg(count(lit(1)).as("f"), countDistinct(col("t")).as("d"))
      .groupBy(col("source"))
      .agg(
        sum(col("f")).as("n_fetches"),
        count(lit(1)).as("n_urls"),
        sum(col("f") - col("d")).as("n_identical_revisits"),
        sum(col("d") - lit(1L)).as("n_changed_revisits")
      )
      .withColumn(
        "revisit_ppm",
        expr(
          """CAST(CAST(n_fetches - n_urls AS DECIMAL(38,0)) * 1000000
            |     DIV n_fetches AS BIGINT)""".stripMargin
        )
      )
  }

  // ------------------------------------------------------ URL audits

  private[graft] val UrlRe = "https?://[a-z0-9.-]+/[a-z0-9]*"
  private[graft] val UrlHostRe = "https?://([a-z0-9.-]+)/"

  /** The four injected hosts; index derived from doc_id so every host
    * appears at every SF. Two of them are the blocklist
    * ([[UrlBlocklist]]) — the C4-style domain filter's input.
    */
  private[graft] val UrlHosts =
    Seq("ads.example.com", "blog.example.org", "spam.example.net", "docs.example.io")
  private[graft] val UrlBlocklist = Seq("ads.example.com", "spam.example.net")

  private[graft] def urlHostSql(idx: String): String =
    UrlHosts.zipWithIndex
      .map { case (h, i) => s"WHEN $idx = $i THEN '$h'" }
      .mkString("CASE ", " ", " END")

  /** The URL-injected corpus: an http link on even doc_ids (host
    * cycles over all four via (doc_id / 2) % 4) and an https link on
    * % 5 = 0 docs (host via (doc_id / 5) % 4) — both paths derived
    * from doc_id, both engines re-derive the text.
    */
  private[graft] def urlDocs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        col("source"),
        expr(
          s"""concat(text,
             | CASE WHEN doc_id % 2 = 0 THEN concat(' see http://',
             |   ${urlHostSql("(doc_id DIV 2) % 4")}, '/page',
             |   CAST(doc_id AS STRING)) ELSE '' END,
             | CASE WHEN doc_id % 5 = 0 THEN concat(' ref https://',
             |   ${urlHostSql("(doc_id DIV 5) % 4")}, '/q',
             |   CAST(doc_id % 97 AS STRING)) ELSE '' END)""".stripMargin
        ).as("text")
      )

  /** URL census per (source, host): extract every link, parse the
    * host, count — the first half of the C4-style domain filter
    * (profile, then block). Scale: Generate inside the scan (bounded
    * matches per doc), host parsed per row, ONE
    * (#sources × #hosts)-group aggregate.
    */
  def urlProfile(spark: SparkSession, dir: String): DataFrame =
    urlDocs(spark, dir)
      .select(
        col("source"),
        explode(expr(s"regexp_extract_all(text, '$UrlRe', 0)")).as("url")
      )
      .select(
        col("source"),
        regexp_extract(col("url"), UrlHostRe, 1).as("host")
      )
      .groupBy(col("source"), col("host"))
      .agg(count(lit(1)).as("n_urls"))

  /** Domain-blocklist audit per source: docs carrying any URL, docs
    * carrying a BLOCKED host, and the floor-div ppm the block would
    * remove — the action urlProfile prices. The blocklist is two
    * literals here; at 100 TB it is a broadcast side, never a
    * shuffle key.
    *
    * Scale: row-local extract + exists lambda over the per-doc match
    * list, one #sources aggregate; map-only before the rollup.
    */
  def urlBlocklistAudit(spark: SparkSession, dir: String): DataFrame = {
    val blocked = UrlBlocklist.map(h => s"'$h'").mkString("(", ", ", ")")
    urlDocs(spark, dir)
      .select(
        col("source"),
        expr(s"regexp_extract_all(text, '$UrlRe', 0)").as("urls")
      )
      .select(
        col("source"),
        (size(col("urls")) > 0).as("has_url"),
        expr(
          s"""exists(urls,
             | u -> regexp_extract(u, '$UrlHostRe', 1) IN $blocked)""".stripMargin
        ).as("is_blocked")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("has_url"), 1L).otherwise(0L)).as("n_url_docs"),
        sum(when(col("is_blocked"), 1L).otherwise(0L)).as("n_blocked_docs")
      )
      .withColumn(
        "blocked_ppm",
        expr("CAST(CAST(n_blocked_docs AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
      )
  }

  // ------------------------------------------- hashed linear scoring

  /** Hashed-bag-of-words linear classifier INFERENCE — the
    * fastText-style quality-model pass pipelines run over every doc
    * (CCNet's LM filter, Dolma's quality classifier) with a
    * deterministic weight table: w(token) = (60-bit md5 of the token)
    * % 2001 − 1000, score(doc) = Σ over the token BAG. The weights
    * are a fixed pseudo-random projection, so the operator exercises
    * the exact execution shape of a real hashed linear model (hash →
    * weight lookup → per-doc sum) with an integer-exact oracle.
    *
    * Output per source: docs, docs the score keeps (> 0), the total
    * score mass, and the floor-div keep ppm — the decision sheet a
    * score threshold feeds.
    *
    * Scale: ONE scan; tokenize + hash + sum is a row-local lambda
    * (no token explode, no shuffle before the #sources rollup) — at
    * 100 TB this is scan-bound, exactly how classifier inference
    * should run.
    */
  def hashgramScore(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        col("source"),
        // ONE tokenizer definition (tokens — the SQL-literal escaping
        // seam for \p{L} is dodged by building the split in the Scala
        // API), then the hash→weight→sum fold as a row-local lambda
        tokens(col("text")).as("toks")
      )
      .select(
        col("doc_id"),
        col("source"),
        hashgramScoreCol.as("score")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_keep"),
        sum(col("score")).as("sum_score")
      )
      .withColumn(
        "keep_ppm",
        expr("CAST(CAST(n_keep AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
      )
  }

  /** Hashed-feature classifier TRAINING — one synchronous batch
    * perceptron epoch (two update rounds), the data-parallel shape
    * every distributed trainer runs: per-doc features are token
    * counts over 64 hash buckets, the gradient all-reduce is a
    * groupBy(bucket) aggregate, and the refreshed weight vector goes
    * back to the workers as a BROADCAST — a parameter-server round
    * expressed relationally, integer-exact end to end.
    *
    * Label: +1 iff the doc contains the token 'spark' (a corpus word
    * both engines test with an exact list-membership), −1 otherwise —
    * so round 2's misclassified set is a real function of round 1's
    * learned weights. Round 1 starts at w = 0 (sign(0) matches no
    * label, so every doc updates: w1[b] = Σ y·x[b]); round 2 updates
    * only docs with y·score1 ≤ 0.
    *
    * Scale: the cell table (doc, label, bucket, count) is built once
    * inside the scan and localCheckpointed for its three consumers
    * (the shared-posting contract); weights are 64 rows — broadcast,
    * never a shuffle side; the misclassified-doc join is doc-keyed.
    * At 100 TB this is exactly scan + all-reduce + broadcast per
    * round, the right plan for synchronous SGD.
    */
  def perceptronEpoch(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        when(array_contains(col("toks"), "spark"), 1L).otherwise(-1L).as("y"),
        explode(col("toks")).as("t")
      )
      .select(
        col("doc_id"),
        col("y"),
        (conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long") % 64).as("b")
      )
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint()
    val w1 = cells.groupBy(col("b")).agg(sum(col("y") * col("x")).as("w1"))
    val sc = cells
      .join(broadcast(w1), Seq("b"))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("x") * col("w1")).as("s"))
    val upd = cells
      .join(sc.filter(col("y") * col("s") <= 0).select(col("doc_id")), Seq("doc_id"))
      .groupBy(col("b"))
      .agg(sum(col("y") * col("x")).as("delta"))
    w1
      .join(upd, Seq("b"), "left")
      .select(
        col("b").as("bucket"),
        col("w1"),
        (col("w1") + coalesce(col("delta"), lit(0L))).as("w2")
      )
  }

  // ------------------------------------------- composite clean pass

  /** The fully-dirty corpus: ALL injection families composed — PII
    * tails, then secret tails (both extend line 1), then boilerplate
    * template LINES — each the same shared expression its own gate
    * uses, so the composite cannot drift from the per-family passes.
    */
  private[graft] def dirtyDocs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), piiInjectExpr.as("text"))
      .select(col("doc_id"), col("source"), secretInjectExpr.as("text"))
      .select(col("doc_id"), col("source"), boilerplateInjectExpr.as("text"))

  /** The END-TO-END cleaning pipeline AS ONE QUERY — the composition
    * a real corpus release runs, proving the passes compose: (1) drop
    * corpus-boilerplate lines (df ≥ [[BoilerDf]] over the composite
    * corpus — line 1 now carries doc-unique PII/secret tails, so only
    * true templates and large exact-dup clusters cross the
    * threshold), (2) redact PII to typed sentinels, (3) redact
    * diversity-passing secrets token-wise. Per-doc stage counts make
    * each stage's contribution auditable; ordering is fixed and
    * mirrored in the oracle (sentinels contain no digits and no
    * 24-char alnum runs, so later stages cannot re-match earlier
    * output).
    *
    * Scale: stage 1 is the boilerplate rewrite's machinery (hashes
    * shuffle, text does not; one pair-bounded drop-position join);
    * stages 2–3 are map-only column work fused into the same rebuild
    * projection. One corpus materialization (localCheckpoint) feeds
    * the line-df build and the rebuild — at 100 TB the whole pipeline
    * is scan + one bounded aggregate/join, then pure map.
    */
  /** Round 11: staged DURABLY once per (session, corpus) — four board
    * consumers (the pipeline readout, the token budget, the
    * dedup-gain sheet, and the canonicalization build) each re-ran
    * the three-stage clean. Same staging class as [[canonicalizedClean]].
    */
  def cleanPipeline(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "clean_corpus")(
      cleanPipelineBuild(spark, dir))

  private[graft] def cleanPipelineBuild(spark: SparkSession, dir: String): DataFrame = {
    val dirty = dirtyDocs(spark, dir).localCheckpoint()
    val lines = boilerLines(dirty).select(col("doc_id"), col("pos"), col("h"))
    val dropPos = lines
      .join(boilerFreq(lines), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("drop_pos"))
    def nPii(c: Column): Column =
      size(regexp_extract_all(c, lit(EmailRe), lit(0))) +
        size(regexp_extract_all(c, lit(PhoneRe), lit(0))) +
        size(regexp_extract_all(c, lit(Ipv4Re), lit(0)))
    val dropped = dirty
      .join(dropPos, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("drop_pos").isNull, 0L)
          .otherwise(size(col("drop_pos")).cast("long")).as("n_boiler_dropped"),
        expr(
          """array_join(
            |  transform(
            |    filter(transform(split(text, chr(10)), (l, i) -> struct(l AS l, i AS i)),
            |           s -> drop_pos IS NULL OR NOT array_contains(drop_pos, s.i)),
            |    s -> s.l),
            |  chr(10))""".stripMargin
        ).as("text")
      )
    val pii = dropped.select(
      col("doc_id"),
      col("n_boiler_dropped"),
      nPii(col("text")).cast("long").as("n_pii_redacted"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe,
          "<PHONE>"),
        Ipv4Re,
        "<IP>"
      ).as("text")
    )
    pii.select(
      col("doc_id"),
      col("n_boiler_dropped"),
      col("n_pii_redacted"),
      expr(s"CAST(size(filter(split(text, ' '), t -> $secretPredSql)) AS BIGINT)")
        .as("n_secrets_redacted"),
      expr(
        s"""array_join(transform(split(text, ' '),
           |  t -> CASE WHEN $secretPredSql THEN '<SECRET>' ELSE t END), ' ')""".stripMargin
      ).as("clean_text")
    )
  }

  /** Does cleaning UNLOCK dedup? Redaction is a pure function of the
    * (dirty) text — typed sentinels erase doc-unique identifiers — so
    * two documents that differed only in their emails/phones/IPs/keys
    * collapse to one fingerprint after the pipeline. This query
    * measures that: exact-fingerprint dedup stats on the dirty corpus
    * vs on the cleaned corpus. distinct(cleaned) ≤ distinct(dirty)
    * holds unconditionally (the cleaned text is F(dirty text), one
    * corpus-wide df table included, so distinct counts can only
    * merge); the GAP is the dup mass a dedup-before-clean pipeline
    * ordering would miss — the pass-ordering price sheet.
    *
    * Scale: two md5-fingerprint aggregates (the dedup_exact shape) on
    * frames the pipeline already produces; fingerprints shuffle, text
    * does not.
    */
  def redactDedupGain(spark: SparkSession, dir: String): DataFrame = {
    def stage(name: String, docs: DataFrame): DataFrame =
      docs
        .select(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("fp"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct")
        )
        .select(
          lit(name).as("stage"),
          col("n_docs"),
          col("n_distinct"),
          (col("n_docs") - col("n_distinct")).as("n_dup_docs"),
          expr(
            "CAST(CAST(n_docs - n_distinct AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)"
          ).as("dup_ppm")
        )
    stage("dirty", dirtyDocs(spark, dir))
      .unionByName(
        stage("cleaned", cleanPipeline(spark, dir).select(col("clean_text").as("text"))))
  }

  /** Token BUDGET of the cleaning pipeline per source: letter-token
    * mass before vs after the three-stage clean, and the floor-div
    * removal ppm — the capacity-planning sheet ("how many training
    * tokens does the cleaning pass cost/save at 100 TB").
    *
    * Scale: two row-local token counts (one on the dirty scan, one on
    * the pipeline's output joined back to the doc directory for its
    * source) and a #sources rollup.
    */
  def cleanTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val dirty = dirtyDocs(spark, dir)
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("nt"))
    val clean = cleanPipeline(spark, dir)
      .select(col("doc_id"), size(tokens(col("clean_text"))).cast("long").as("ct"))
    dirty
      .join(clean, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("dirty_tokens"),
        sum(col("ct")).as("clean_tokens")
      )
      .withColumn(
        "removed_ppm",
        expr(
          "CAST(CAST(dirty_tokens - clean_tokens AS DECIMAL(38,0)) * 1000000 DIV dirty_tokens AS BIGINT)"
        )
      )
  }

  /** Integer WATERFILLING mixture allocator — the "cap the big
    * sources" scheduler every mixture recipe needs (LLaMA/DoReMi-style
    * capping): given a token budget B = ⌊total/2⌋, find the largest
    * integer cap C with Σ min(mass_s, C) ≤ B and allocate
    * min(mass_s, C) to each source. Small sources keep everything,
    * large ones are capped — fill_ppm is each source's kept fraction.
    *
    * Scale: mass comes from one scan-bound rollup; the cap is a
    * SCALAR plan parameter derived from the #sources-bounded mass
    * vector on the driver (the RankOps/BPE bounded-collect contract —
    * sources are a low-cardinality dimension; no partition-less
    * window enters any plan). The oracle re-derives the cap with the
    * full relational window form, so the driver-side arithmetic is
    * still cross-engine-verified.
    */
  def tokenWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val masses = Tables
      .documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("mass"))
      .localCheckpoint()
    val ms = masses.collect().map(_.getAs[Long]("mass")).sorted
    val k = ms.length
    val total = ms.sum
    val budget = total / 2
    val prefix = ms.scanLeft(0L)(_ + _) // prefix(j) = sum of j smallest
    // j* = max j in [0, k-1] with P_j + (k-j)·m_j ≤ B  (m_0 := 0);
    // cap = (B - P_j*) div (k - j*) then lies in [m_j*, m_j*+1)
    val jStar = (0 until k)
      .filter(j => prefix(j) + (k - j) * (if (j == 0) 0L else ms(j - 1)) <= budget)
      .max
    val cap = (budget - prefix(jStar)) / (k - jStar)
    masses.select(
      col("source"),
      col("mass"),
      least(col("mass"), lit(cap)).as("alloc"),
      lit(cap).as("cap"),
      expr(
        s"CAST(CAST(LEAST(mass, ${cap}L) AS DECIMAL(38,0)) * 1000000 DIV mass AS BIGINT)"
      ).as("fill_ppm")
    )
  }

  /** Per-doc cleaning MANIFEST — the provenance record a governed
    * corpus release ships beside the data: which stages touched each
    * doc (a bitmask: 1 = boilerplate drop, 2 = PII redaction,
    * 4 = secret redaction, 8 = typo canonicalization — the round-11
    * fourth stage) and the 60-bit fingerprints before / after the
    * redaction chain / after canonicalization, so any doc's
    * transformation is auditable and the clean corpus can be diffed
    * against its dirty ancestor without storing either twice.
    *
    * Scale: a pure projection over frames the pipeline already
    * produces; fingerprints are row-local.
    */
  def cleanManifest(spark: SparkSession, dir: String): DataFrame = {
    val fp = (c: Column) =>
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val dirty = dirtyDocs(spark, dir)
      .select(col("doc_id"), fp(col("text")).as("dirty_fp"))
    canonicalizedClean(spark, dir)
      .join(dirty, Seq("doc_id"))
      .select(
        col("doc_id"),
        (when(col("n_boiler_dropped") > 0, 1L).otherwise(0L) +
          when(col("n_pii_redacted") > 0, 2L).otherwise(0L) +
          when(col("n_secrets_redacted") > 0, 4L).otherwise(0L) +
          when(col("n_typo_rewritten") > 0, 8L).otherwise(0L)).as("touched_mask"),
        col("dirty_fp"),
        fp(col("clean_text")).as("clean_fp"),
        fp(col("canon_text")).as("canon_fp")
      )
  }

  /** The round-11 FOURTH cleaning stage: token-wise spelling
    * canonicalization of the cleaned corpus against the
    * [[typoRewrite]] map (built once per session —
    * [[typoRewriteMapArtifact]]). Application discipline is the
    * boilerplate-rewrite one: corpus TEXT never shuffles — the word
    * stream ships only (doc_id, pos, 60-bit fp of the lowercased
    * word) into the vocab-bounded map join, the sparse HIT positions
    * (typo mass only) shuffle back, and the rewrite is a row-local
    * map_from_entries lookup inside the rebuild projection. Rewritten
    * tokens surface lowercased (the map's canonical forms are
    * lowercase types — documented, oracle-replayed).
    */
  /** Round 11: staged DURABLY once per (session, corpus) — the
    * cleaned+canonicalized corpus is what a production release
    * actually materializes (C4/RefinedWeb ship the cleaned text, they
    * don't re-clean per consumer), and THREE queries consume it
    * (clean_manifest, clean_typo_rewrite, typo_rewrite_gain), each
    * previously re-running the full clean chain + map application.
    * Corpus-co-scaled ⇒ durable parquet staging (the KN-model class,
    * the reference's F4 intermediate-file boundary), never pinned
    * registry blocks.
    */
  private[graft] def canonicalizedClean(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "canon_clean")(
      canonicalizedCleanBuild(spark, dir))

  private[graft] def canonicalizedCleanBuild(spark: SparkSession, dir: String): DataFrame = {
    val fpc = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val rmap = typoRewriteMapArtifact(spark, dir)
      .select(fpc(col("token")).as("w_fp"), col("canon"))
    val clean = cleanPipeline(spark, dir) // staged parquet read
    val hits = clean
      .select(col("doc_id"), posexplode(split(col("clean_text"), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), fpc(lower(col("w"))).as("w_fp"))
      .join(rmap, Seq("w_fp"))
      .select(col("doc_id"), col("pos"), col("canon"))
    val perDoc = hits
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("canon")))).as("rw"))
    clean
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("mp", map_from_entries(col("rw")))
      .select(
        col("doc_id"),
        col("n_boiler_dropped"),
        col("n_pii_redacted"),
        col("n_secrets_redacted"),
        coalesce(size(col("rw")), lit(0)).cast("long").as("n_typo_rewritten"),
        size(split(col("clean_text"), " ")).cast("long").as("n_tokens"),
        col("clean_text"),
        when(col("rw").isNull, col("clean_text"))
          .otherwise(
            array_join(
              expr("transform(split(clean_text, ' '), (w, i) -> coalesce(element_at(mp, i), w))"),
              " "))
          .as("canon_text")
      )
  }

  /** Per-source PRICING of the canonicalization stage: how many
    * whitespace tokens of the cleaned corpus the map rewrites (ppm) —
    * the capacity sheet that decides whether shipping the map is
    * worth a release stage.
    */
  def cleanTypoRewrite(spark: SparkSession, dir: String): DataFrame =
    canonicalizedClean(spark, dir)
      .join(
        Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_typo_rewritten")).as("n_rewritten"))
      .withColumn(
        "rewritten_ppm",
        expr("CAST(CAST(n_rewritten AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)"))

  /** Does canonicalization UNLOCK dedup? [[redactDedupGain]]'s
    * marginal-gain shape one stage later: exact-fingerprint dup stats
    * on the cleaned corpus vs the canonicalized corpus — the gap is
    * the near-dup mass that differs only by rewritable typos, i.e.
    * the priced answer to "what does APPLYING the map buy" (a map
    * that prices at ~0 ppm is not worth a release stage).
    */
  def typoRewriteGain(spark: SparkSession, dir: String): DataFrame = {
    // staged parquet read — both stage branches scan the staging files
    // directly, no extra checkpoint job needed
    val c = canonicalizedClean(spark, dir)
    def stage(name: String, docs: DataFrame): DataFrame =
      docs
        .select(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("fp"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_distinct"))
        .select(
          lit(name).as("stage"),
          col("n_docs"),
          col("n_distinct"),
          (col("n_docs") - col("n_distinct")).as("n_dup_docs"),
          expr(
            "CAST(CAST(n_docs - n_distinct AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)"
          ).as("dup_ppm"))
    stage("cleaned", c.select(col("clean_text").as("text")))
      .unionByName(stage("canonicalized", c.select(col("canon_text").as("text"))))
  }

  // --------------------------------------------- hash self-auditing

  /** Collision audit for the 60-bit md5 hash discipline — the board's
    * standing argument is "strings never shuffle, 60-bit hashes do,
    * and a collision would hash-mismatch the oracle"; this query
    * measures the premise directly at three granularities (tokens,
    * boilerplate-corpus lines, 8-token shingles): distinct KEY
    * strings vs distinct hashes, collisions = difference (expected 0
    * at any realistic corpus: 2^60 space).
    *
    * Scale: this is the AUDIT-RATE exception that shuffles strings on
    * purpose (three corpus-wide distinct aggregates over the very
    * streams the production passes never materialize) — run per
    * release, not per query; the scaladoc IS the contract.
    */
  def hashCollisionAudit(spark: SparkSession, dir: String): DataFrame = {
    val h = (c: Column) =>
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    def level(name: String, keys: DataFrame): DataFrame =
      keys
        .agg(
          countDistinct(col("k")).as("n_distinct_keys"),
          countDistinct(h(col("k"))).as("n_distinct_hashes")
        )
        .select(
          lit(name).as("level"),
          col("n_distinct_keys"),
          col("n_distinct_hashes"),
          (col("n_distinct_keys") - col("n_distinct_hashes")).as("n_collisions")
        )
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(explode(tokens(col("text"))).as("k"))
    val lines = boilerplateDocs(spark, dir)
      .select(explode(split(col("text"), "\n")).as("k"))
    // production's shingle stream: lower-cased tokens, space-joined —
    // h(key) below IS the shingle_hashes kernel's value (top-60 md5
    // bits; elementwise identity is KernelPropertySpec-proven)
    val shingles = docs
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= DedupOps.SpanTokens)
      .select(
        explode(
          expr(
            s"""transform(sequence(0, size(toks) - ${DedupOps.SpanTokens}),
               |  i -> array_join(slice(toks, i + 1, ${DedupOps.SpanTokens}), ' '))""".stripMargin
          )
        ).as("k")
      )
    level("token", toks)
      .unionByName(level("line", lines))
      .unionByName(level("shingle", shingles))
  }

  // --------------------------------------- classifier evaluation

  /** The hashgram classifier's per-doc score as a reusable Column
    * over a `toks` array column — ONE definition for the batch sheet
    * (`hashgramScore`), the evaluation family below, and the ingest
    * edge (`streaming.IngestEdge.projections`), so the weight table
    * cannot drift between transports. w(token) = top-60-bit
    * md5 % 2001 − 1000; the fold is row-local (no explode, no
    * shuffle) — quality-classifier inference stays scan-bound at
    * 100 TB.
    *
    * Runs as the `hashgram_score` codegen kernel
    * ([[graft.functions.HashgramKernel]] — one md5 per DISTINCT
    * token, count-weighted); the previous higher-order `aggregate`
    * lambda was a CodegenFallback that broke whole-stage codegen in
    * every consumer's scan stage. Bit-identical (KernelPropertySpec),
    * oracles unchanged.
    */
  private[graft] def hashgramScoreCol: Column =
    graft.functions.VectorExpressions.hashgramScore(col("toks"))

  /** Per-doc classifier-gate projection — (doc_id, source, score,
    * keep) with keep = score > 0, the `hashgramScore` keep rule at
    * row granularity. ONE definition, two transports: the batch side
    * and `streaming.IngestEdge.projections` both plan exactly this
    * projection, so the ingest-edge gate cannot drift from the batch
    * sheet the oracle verifies.
    */
  private[graft] def hashgramGateProjection(df: DataFrame): DataFrame = {
    df
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), hashgramScoreCol.as("score"))
      .withColumn("keep", col("score") > 0L)
  }

  /** Score-bin width and clamp for the evaluation family: bins are
    * exact FLOOR division by 256 (the positive-mod form — Spark `DIV`
    * truncates toward zero, so `(sc - pmod(sc, 256)) DIV 256` is the
    * engine-agnostic floor), clamped to ±128 — ≤ 257 bins covering
    * scores to ±32768 (observed corpus range ±~18k), hard-BOUNDED by
    * construction so the per-source rank window's frame never grows
    * with the corpus.
    */
  val ScoreBin = 256L
  val ScoreClamp = 128L

  /** Per-doc (source, label, clamped score bin) → (positives,
    * negatives) counts — the bounded sufficient statistic the whole
    * evaluation family (AUC, PR sweep) reads; ONE corpus scan,
    * row-local score fold, one (source, bin) partial-agg shuffle.
    * Label: the perceptron family's contains-'spark' convention
    * (`perceptronEpoch`).
    */
  private[graft] def hashgramBins(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(
        col("source"),
        when(array_contains(col("toks"), "spark"), 1L).otherwise(0L).as("y"),
        hashgramScoreCol.as("sc")
      )
      .select(
        col("source"),
        col("y"),
        greatest(
          lit(-ScoreClamp),
          least(
            lit(ScoreClamp),
            expr(s"(sc - pmod(sc, $ScoreBin)) DIV $ScoreBin")
          )
        ).as("sb")
      )
      .groupBy(col("source"), col("sb"))
      .agg(sum(col("y")).as("p_v"), sum(lit(1L) - col("y")).as("n_v"))
  }

  /** Exact ROC AUC of the hashgram classifier per source — the
    * standard evaluation number every quality-classifier pipeline
    * reports before gating a corpus on the score. Computed at
    * score-bin granularity by the Mann–Whitney midrank identity
    * (the `mannWhitneyDrift` arithmetic applied to the pos/neg label
    * split): 2·R₊ accumulates per bin from the cumulative count of
    * lower bins, u2 = 2·U₊ stays integer-exact end to end, and the
    * single IEEE division at the end is AUC = U₊ / (n₊·n₋).
    *
    * Scale: the corpus collapses to ≤ 257 bins per source before any
    * window; the cumulative window is per-source over those bins —
    * O(1) frame, never corpus-sized.
    */
  def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Window
      .partitionBy(col("source"))
      .orderBy(col("sb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hashgramBins(spark, dir)
      .withColumn("m_v", col("p_v") + col("n_v"))
      .withColumn("c_before", coalesce(sum(col("m_v")).over(bySrc), lit(0L)))
      .groupBy(col("source"))
      .agg(
        sum(col("p_v")).as("n_pos"),
        sum(col("n_v")).as("n_neg"),
        sum(
          col("p_v").cast(DecimalType(38, 0)) *
            (col("c_before").cast(DecimalType(38, 0)) * 2 + col("m_v") + 1)
        ).cast(DecimalType(38, 0)).as("r2_pos")
      )
      .select(
        col("source"),
        col("n_pos"),
        col("n_neg"),
        (col("r2_pos") - col("n_pos").cast(DecimalType(38, 0)) * (col("n_pos") + 1))
          .cast("long")
          .as("u2_pos")
      )
      .withColumn(
        "auc",
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          col("u2_pos").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double"))
        )
      )
  }

  /** Operating-point thresholds for the PR sweep — multiples of
    * `ScoreBin` inside the clamp range, so `score ≥ T ⟺ bin ≥ T/256`
    * holds EXACTLY on the binned statistic (floor division preserves
    * order at bin-aligned cuts).
    */
  val PrThresholds: Seq[Long] = Seq(-8192L, -4096L, 0L, 4096L, 8192L)

  /** Precision / recall / F1 of the hashgram classifier at five
    * bin-aligned thresholds — the operating-point PRICE SHEET a
    * pipeline reads to pick its keep cut (the `boilerplate_df_sweep`
    * pattern applied to classifier gating). All five rows are
    * conditional sums over the ONE bounded bin frame — no
    * per-threshold rescan; ratios are floor-div ppm (precision
    * defined 0 when nothing is predicted positive).
    */
  def classifierPrSweep(spark: SparkSession, dir: String): DataFrame = {
    val spine = PrThresholds
      .map(t => spark.range(1).select(lit(t).as("thr")))
      .reduce(_.unionAll(_))
    hashgramBins(spark, dir)
      .crossJoin(broadcast(spine))
      .groupBy(col("thr"))
      .agg(
        sum(when(expr(s"sb >= thr DIV $ScoreBin"), col("p_v")).otherwise(0L)).as("tp"),
        sum(when(expr(s"sb >= thr DIV $ScoreBin"), col("n_v")).otherwise(0L)).as("fp"),
        sum(col("p_v")).as("pos_tot"),
        sum(col("n_v")).as("neg_tot")
      )
      .select(
        col("thr"),
        col("tp"),
        col("fp"),
        (col("pos_tot") - col("tp")).as("fn"),
        (col("neg_tot") - col("fp")).as("tn"),
        expr(
          """CASE WHEN tp + fp > 0
            | THEN CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 DIV (tp + fp) AS BIGINT)
            | ELSE 0L END""".stripMargin
        ).as("precision_ppm"),
        expr(
          "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 DIV pos_tot AS BIGINT)"
        ).as("recall_ppm"),
        expr(
          """CASE WHEN 2 * tp + fp + (pos_tot - tp) > 0
            | THEN CAST(CAST(tp AS DECIMAL(38,0)) * 2000000
            |        DIV (2 * tp + fp + (pos_tot - tp)) AS BIGINT)
            | ELSE 0L END""".stripMargin
        ).as("f1_ppm")
      )
  }

  /** Corpus YIELD at each classifier threshold — the capacity sheet
    * behind the PR sweep: how many documents AND how much token mass
    * survive the keep cut at every operating point (what
    * FineWeb-Edu-style filtering publishes as "keeping score ≥ s
    * leaves X% of tokens"). Same bin-aligned thresholds as
    * `classifier_pr_sweep`, so precision/recall and yield read as one
    * sheet; token mass rides the SAME bounded bin frame (bins carry a
    * sum instead of a second corpus pass).
    *
    * Scale: one scan collapses to ≤ 257 (bin → docs, tokens) rows;
    * five conditional sums over that frame.
    */
  def classifierYieldSweep(spark: SparkSession, dir: String): DataFrame = {
    val bins = Tables
      .documents(spark, dir)
      .select(tokens(col("text")).as("toks"))
      .select(size(col("toks")).cast("long").as("nt"), hashgramScoreCol.as("sc"))
      .select(
        col("nt"),
        greatest(
          lit(-ScoreClamp),
          least(lit(ScoreClamp), expr(s"(sc - pmod(sc, $ScoreBin)) DIV $ScoreBin"))
        ).as("sb")
      )
      .groupBy(col("sb"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_toks"))
    val spine = PrThresholds
      .map(t => spark.range(1).select(lit(t).as("thr")))
      .reduce(_.unionAll(_))
    bins
      .crossJoin(broadcast(spine))
      .groupBy(col("thr"))
      .agg(
        sum(when(expr(s"sb >= thr DIV $ScoreBin"), col("n_docs")).otherwise(0L)).as("docs_kept"),
        sum(when(expr(s"sb >= thr DIV $ScoreBin"), col("n_toks")).otherwise(0L)).as("toks_kept"),
        sum(col("n_docs")).as("docs_tot"),
        sum(col("n_toks")).as("toks_tot")
      )
      .select(
        col("thr"),
        col("docs_kept"),
        col("toks_kept"),
        expr(
          "CAST(CAST(docs_kept AS DECIMAL(38,0)) * 1000000 DIV GREATEST(docs_tot, 1) AS BIGINT)"
        ).as("doc_keep_ppm"),
        expr(
          "CAST(CAST(toks_kept AS DECIMAL(38,0)) * 1000000 DIV GREATEST(toks_tot, 1) AS BIGINT)"
        ).as("token_keep_ppm")
      )
  }

  /** Cohen's kappa between the board's two independent keep signals —
    * the hashgram classifier (score > 0, `hashgramScore`'s keep rule)
    * and the heuristic quality gate (quality ≥ 0.55, `trainingPrep`'s
    * cut) — per source: the chance-corrected agreement sheet that
    * tells a pipeline whether a learned classifier and a rule gate
    * are redundant or complementary before it stacks them.
    *
    * The quality cut is evaluated in its EXACT integer form:
    * quality = [n_words ≥ 5] · (1 − punct/len) · (0.5 + stop/words)
    * ≥ 0.55  ⟺  n_words ≥ 5 ∧ 10·(len−punct)·(words+2·stop) ≥
    * 11·len·words — cross-multiplied so no float comparison seams the
    * oracle. Observed/expected agreement are exact ppm floor-divs;
    * kappa itself is the one IEEE division at the end (its numerator
    * can be negative, where floor-div dialects diverge).
    *
    * Scale: one corpus scan with row-local raters, a 2×2 cell
    * aggregate per source, then pure arithmetic on #sources rows.
    */
  def classifierKappa(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(col("source"), col("text"), tokens(col("text")).as("toks"))
      .withColumn("ka", hashgramScoreCol > 0)
      .select(col("source"), col("ka"), col("text"),
        tokens(lower(col("text"))).as("qtoks"))
      .withColumn("len", length(col("text")).cast("bigint"))
      .withColumn("lp", length(regexp_replace(col("text"), "[.,;:!?]", "")).cast("bigint"))
      .withColumn("w", size(col("qtoks")).cast("bigint"))
      .withColumn(
        "s",
        size(filter(col("qtoks"), t => t.isin(stopwords.map(lit(_)): _*))).cast("bigint")
      )
      .select(
        col("source"),
        col("ka"),
        (col("w") >= 5L &&
          col("lp") * (col("w") + lit(2L) * col("s")) * lit(10L) >=
            col("len") * col("w") * lit(11L)).as("kb")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("ka") && col("kb"), 1L).otherwise(0L)).as("a"),
        sum(when(col("ka") && !col("kb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ka") && col("kb"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("ka") && !col("kb"), 1L).otherwise(0L)).as("d")
      )
      .select(
        col("source"), col("n"), col("a"), col("b"), col("c"), col("d"),
        expr("CAST(CAST(a + d AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)").as("po_ppm"),
        expr(
          """CAST(CAST((a + b) * (a + c) + (c + d) * (b + d) AS DECIMAL(38,0)) * 1000000
            | DIV (n * n) AS BIGINT)""".stripMargin
        ).as("pe_ppm")
      )
      .withColumn(
        "kappa",
        when(
          col("pe_ppm") < 1000000L,
          (col("po_ppm") - col("pe_ppm")).cast("double") /
            (lit(1000000L) - col("pe_ppm")).cast("double")
        )
      )
  }

  /** Calibration (reliability) sheet for the hashgram classifier:
    * empirical positive rate per score BAND — 8 hard-bounded bands of
    * 32 score bins (8192 score units) each, the diagram a pipeline
    * reads to decide whether the raw score can be thresholded as if
    * it were a probability. All integer: band = floor-div of the
    * clamped bin, rate = ppm floor-div.
    *
    * Scale: a conditional rollup over the SAME bounded bin frame as
    * `classifier_auc` — no extra corpus pass beyond the shared scan.
    */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame =
    hashgramBins(spark, dir)
      .withColumn(
        "band",
        greatest(lit(-4L), least(lit(3L), expr("(sb - pmod(sb, 32)) DIV 32")))
      )
      .groupBy(col("band"))
      .agg(
        sum(col("p_v") + col("n_v")).as("n_docs"),
        sum(col("p_v")).as("n_pos")
      )
      .withColumn(
        "pos_ppm",
        expr("CAST(CAST(n_pos AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
      )

  /** Temperature-scaled mixture allocation at α = 1/2 — the
    * multilingual/multi-source upsampling rule (mT5 / LLaMA style:
    * sample source i ∝ massᵢ^α, α < 1 upsamples the tail) in an
    * INTEGER-EXACT form: wᵢ = ⌊√massᵢ⌋ (floor of the correctly-
    * rounded IEEE sqrt — exact for any mass < 2⁵², so both engines
    * agree bit-for-bit), allocᵢ = B·wᵢ div Σw against the SAME
    * budget B = Σmass div 2 as `token_waterfill`, so the two
    * allocator sheets are directly comparable. upsample_ppm prices
    * each source's gain vs the proportional allocator — THE number
    * that says what α = 1/2 does to the tail at 100 TB.
    *
    * Scale: one corpus scan to #sources masses; totals are a 1-row
    * broadcast back; everything after is arithmetic on #sources rows.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val masses = Tables
      .documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("mass"))
      .withColumn("w", floor(sqrt(col("mass").cast("double"))).cast("long"))
    val totals = masses.agg(
      sum(col("mass")).as("tot_mass"),
      sum(col("w")).as("tot_w")
    )
    masses
      .crossJoin(broadcast(totals))
      .select(
        col("source"),
        col("mass"),
        col("w"),
        expr("CAST(CAST(w AS DECIMAL(38,0)) * 1000000 DIV tot_w AS BIGINT)").as("share_ppm"),
        expr(
          """CAST(CAST(tot_mass DIV 2 AS DECIMAL(38,0)) * w DIV tot_w AS BIGINT)"""
        ).as("alloc"),
        expr(
          """CAST(CAST(tot_mass DIV 2 AS DECIMAL(38,0)) * mass DIV tot_mass AS BIGINT)"""
        ).as("prop_alloc")
      )
      .withColumn(
        "upsample_ppm",
        expr("CAST(CAST(alloc AS DECIMAL(38,0)) * 1000000 DIV GREATEST(prop_alloc, 1) AS BIGINT)")
      )
  }

  // ------------------------------------------ FIM training transform

  /** Minimum document length (chars) and application rate (%) for the
    * fill-in-the-middle transform; mirrored in the oracle.
    */
  val FimMinChars = 32L
  val FimRatePct = 50L

  /** Fill-in-the-middle (FIM) training-data transform — the
    * prefix/middle/suffix split every code/infilling model's pipeline
    * applies to a deterministic fraction of documents (Bavarian et
    * al. 2022: sample two cut points, reorder to PSM). Cut points are
    * doc_id-derived 60-bit md5 draws over [1, len−1] (prefix and
    * suffix always non-empty; the middle MAY be empty — the paper's
    * degenerate case, kept), the coin is a hash-mod-100 at
    * `FimRatePct`, and the emitted record carries the three span
    * lengths plus a 60-bit fingerprint of the PSM-reordered string
    * (sentinel-delimited), so token conservation (p+m+s = len) and
    * the exact reordering are both oracle-checkable.
    *
    * Scale: a pure row-local projection — no shuffle, no state; at
    * 100 TB this fuses into the ingest scan like the PII/secret
    * rewrites.
    */
  def fimSplit(spark: SparkSession, dir: String): DataFrame =
    fimProjection(Tables.documents(spark, dir))

  /** The FIM transform as a reusable projection over (doc_id, text) —
    * ONE definition, two transports: the batch gate above and
    * `streaming.IngestEdge.projections` plan exactly these Columns.
    */
  private[graft] def fimProjection(docs: DataFrame): DataFrame = {
    val h = (salt: String) =>
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 15), 16, 10)
        .cast("long")
    docs
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
      .withColumn(
        "fim_applied",
        col("len") >= FimMinChars && pmod(h("c"), lit(100L)) < FimRatePct
      )
      // greatest(len-1, 1): mod-zero guard for len <= 1 docs (the
      // branch is dead there — fim_applied needs len >= 32 — but both
      // branches evaluate)
      .withColumn("c1", lit(1L) + pmod(h("a"), greatest(col("len") - 1L, lit(1L))))
      .withColumn("c2", lit(1L) + pmod(h("b"), greatest(col("len") - 1L, lit(1L))))
      .withColumn("lo", when(col("fim_applied"), least(col("c1"), col("c2"))).otherwise(col("len")))
      .withColumn("hi", when(col("fim_applied"), greatest(col("c1"), col("c2"))).otherwise(col("len")))
      .select(
        col("doc_id"),
        col("fim_applied"),
        col("len"),
        col("lo").as("p_len"),
        (col("hi") - col("lo")).as("m_len"),
        (col("len") - col("hi")).as("s_len"),
        conv(
          substring(
            md5(
              concat(
                lit("<PRE>"),
                expr("substr(text, 1, CAST(lo AS INT))"),
                lit("<SUF>"),
                expr("substr(text, CAST(hi + 1 AS INT), CAST(len - hi AS INT))"),
                lit("<MID>"),
                expr("substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))")
              )
            ),
            1,
            15
          ),
          16,
          10
        ).cast("long").as("psm_fp")
      )
  }

  /** T5-style span corruption (Raffel et al. 2020) as a DETERMINISTIC
    * training-data transform — the masked-objective sibling of
    * `fim_split`: a span starts at token position j iff a doc_id- and
    * position-salted 60-bit md5 draw lands on residue 0 of 14 (≈ 7%
    * of positions), with span length 1 + h % 3 (1–3 tokens, mean 2 —
    * ≈ 14% of tokens corrupted, T5's 15% dialed to integer residues).
    * Overlapping spans merge; each merged run collapses to ONE `<X>`
    * sentinel in the masked sequence (the T5 encoding), and the
    * target sequence carries `<X>` + the dropped tokens per span.
    * Emits per doc: token counts, span count (= sentinels after
    * collapsing), corrupted-token count, corruption ppm, and 60-bit
    * fingerprints of the masked and target strings, so the exact
    * reordering/collapsing is oracle-checked.
    *
    * Scale: a pure row-local projection — the whole transform (draw,
    * merge, counts, both fingerprints) is ONE generated-loop pass of
    * the `span_corrupt` codegen kernel (the hashgram_score upgrade
    * path, taken in round 7 once `ul2_mix` became a second consumer);
    * the per-token cost is two md5s.
    */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame =
    spanCorrStats(spark, dir)
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_corrupted"),
        col("k.n_spans").as("n_spans"),
        col("k.masked_fp").as("masked_fp"),
        col("k.target_fp").as("target_fp")
      )
      .withColumn(
        "corrupt_ppm",
        expr("CAST(CAST(n_corrupted AS DECIMAL(38,0)) * 1000000 DIV GREATEST(n_tokens, 1) AS BIGINT)")
      )

  /** ONE definition of the span-corruption draw — the codegen
    * `span_corrupt` kernel ([[graft.functions.SpanCorruptKernel]]:
    * one generated-loop pass computes the position draws, the span
    * merge, both fingerprints, and the counts; the previous three
    * interpreted `transform` passes broke whole-stage codegen in both
    * consumers' scans). Shared by [[spanCorruption]] and [[ul2Mix]]
    * so the R-denoiser's corrupted-token accounting cannot drift from
    * the gate that proves the draw.
    */
  private[graft] def spanCorrStats(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn(
        "k",
        graft.functions.VectorExpressions.spanCorrupt(col("doc_id"), col("toks"))
      )
      .select(
        col("doc_id"),
        col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        col("k.n_corrupted").as("n_corrupted"),
        col("k")
      )
  }

  /** UL2 mixture-of-denoisers ALLOCATION sheet (Tay et al. 2022):
    * every doc draws a denoiser by doc_id hash — R (regular span
    * corruption, 50%), S (sequential/PrefixLM, 25%), X (extreme,
    * 25%) — and the sheet reports per (source, denoiser) the doc and
    * token mass plus the LOSS-BEARING token mass each objective
    * trains on: R's is the measured corrupted count from the SAME
    * span draw `span_corruption` gates; S's is the suffix quarter
    * (mean 75% prefix context → loss on ⌊n/4⌋); X's is the extreme
    * half (⌊n/2⌋). Together with `fim_split` and `span_corruption`
    * this completes the training-objectives family: the transforms
    * exist, this is the mixture's capacity plan — how many
    * loss-tokens per epoch each objective contributes at 100 TB.
    *
    * Scale: pure row-local draw + counts fused into the scan, then
    * ONE (#sources × 3)-group aggregate; floor-div ppm.
    */
  def ul2Mix(spark: SparkSession, dir: String): DataFrame = {
    val den = pmod(
      conv(substring(md5(concat(col("doc_id").cast("string"), lit("u"))), 1, 15), 16, 10)
        .cast("long"),
      lit(4L)
    )
    spanCorrStats(spark, dir)
      .select(
        col("source"),
        col("n_tokens"),
        col("n_corrupted"),
        when(den < 2L, "R").when(den === 2L, "S").otherwise("X").as("denoiser")
      )
      .withColumn(
        "loss_tokens",
        when(col("denoiser") === "R", col("n_corrupted"))
          .when(col("denoiser") === "S", expr("n_tokens DIV 4"))
          .otherwise(expr("n_tokens DIV 2"))
      )
      .groupBy(col("source"), col("denoiser"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("loss_tokens")).as("loss_tokens")
      )
      .withColumn(
        "loss_ppm",
        expr(
          "CAST(CAST(loss_tokens AS DECIMAL(38,0)) * 1000000 DIV GREATEST(n_tokens, 1) AS BIGINT)"
        )
      )
  }

  // --------------------------------------------- text normalization

  /** The corpus with deterministic FORMATTING VARIANTS injected — the
    * synthesis pattern (piiDocs / boilerplateDocs) for the
    * normalization family, since the raw synthetic corpus is already
    * case-folded and single-spaced: docs with doc_id % 5 == 0 gain an
    * UPPER-CASED twin (id + 10⁹), docs with doc_id % 7 == 3 gain a
    * whitespace-mangled twin (id + 2·10⁹: doubled internal spaces +
    * lead/trail padding). Each twin is byte-distinct from its
    * original but normalizes back to it, so the gain sheet is
    * non-vacuous at every SF.
    */
  private[graft] def formattingNoisyDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val upperTwins = docs
      .filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("source"),
        upper(col("text")).as("text"))
    val wsTwins = docs
      .filter(pmod(col("doc_id"), lit(7L)) === 3L)
      .select((col("doc_id") + 2000000000L).as("doc_id"), col("source"),
        concat(lit("  "), regexp_replace(col("text"), " ", "  "), lit(" ")).as("text"))
    docs.unionByName(upperTwins).unionByName(wsTwins)
  }

  /** Text-normalization pass (ASCII case fold + whitespace collapse +
    * trim — the CCNet/C4 canonicalization applied before any exact
    * dedup) priced as a three-stage GAIN SHEET over the
    * formatting-noisy corpus: distinct-fingerprint counts raw, after
    * case folding alone, and after full normalization. The marginal
    * dup_ppm per stage is the duplicated mass an UN-normalized exact
    * dedup ships into training at 100 TB — the `redact_dedup_gain`
    * argument applied to formatting instead of identifiers
    * (normalization is a pure text function, so distinct counts are
    * monotone non-increasing down the sheet).
    *
    * Scale: three fingerprint-distinct aggregates (60-bit hashes
    * shuffle, text never does); normalization itself is a row-local
    * map fused into the scan.
    */
  def normalizeDedupGain(spark: SparkSession, dir: String): DataFrame = {
    val fp = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    def stage(name: String, t: Column): DataFrame =
      formattingNoisyDocs(spark, dir)
        .select(fp(t).as("fp"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_distinct"))
        .select(
          lit(name).as("stage"),
          col("n_docs"),
          col("n_distinct"),
          (col("n_docs") - col("n_distinct")).as("n_dup_docs"),
          expr(
            "CAST(CAST(n_docs - n_distinct AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)"
          ).as("dup_ppm")
        )
    val folded = lower(col("text"))
    val normalized = trim(regexp_replace(lower(col("text")), "[ \\t\\r\\n]+", " "))
    stage("raw", col("text"))
      .unionByName(stage("case_folded", folded))
      .unionByName(stage("normalized", normalized))
  }

  // ------------------------------------------ Gopher quality heuristics

  /** Stopword stand-ins for the Gopher "contains ≥ 2 stop words" rule,
    * adapted to the synthetic corpus vocabulary (the published list is
    * {the, be, to, of, and, that, have, with}; this corpus's only
    * function words are `the` and `a`). ~22% of docs fail naturally at
    * every SF, so the rule is non-vacuous without injection.
    */
  private[graft] val GopherStops = Seq("the", "a")

  /** The rule-failing injections for the Gopher corpus (mirrored in
    * the oracle CTE — the piiDocs synthesis pattern): the raw corpus
    * is one line of letter-only words, so the line-shape and
    * symbol/alpha rules would be vacuously green. Each residue class
    * plants a guaranteed failure of one rule family at every SF:
    * %17 → 10 bullet lines (bullet fraction 10/11 > 90%), %19 → 2 of
    * 3 lines end in '...' (> 30%), %23 → 30 '#' words (symbol ratio
    * > 0.1 AND alpha fraction < 80%), %31 → 120 one-char words (mean
    * word length < 3). Word-count (< 50) and stopword (< 2) failures
    * occur naturally (~45% / ~22% of docs).
    */
  private[graft] def gopherInjectExpr: Column =
    expr(
      """concat(text,
        | CASE WHEN doc_id % 17 = 0
        |   THEN repeat(concat(chr(10), '- item entry'), 10) ELSE '' END,
        | CASE WHEN doc_id % 19 = 0
        |   THEN concat(chr(10), 'read more...', chr(10), 'loading...') ELSE '' END,
        | CASE WHEN doc_id % 23 = 0 THEN repeat(' #', 30) ELSE '' END,
        | CASE WHEN doc_id % 31 = 0 THEN repeat(' a', 120) ELSE '' END)""".stripMargin
    )

  private[graft] def gopherDocs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), gopherInjectExpr.as("text"))

  /** ONE definition of the per-doc Gopher rule projection (over
    * columns `doc_id`, `source`, `text`) — shared by [[gopherRules]]
    * and the ingest-edge stream so the two transports cannot drift.
    * Every rule is a cross-multiplied INTEGER comparison (no ratio is
    * ever materialized as a float), the Mann–Whitney arithmetic
    * discipline applied to the MassiveText filter thresholds
    * (Rae et al. 2021, App. A): word count in [50, 100000]; mean word
    * length in [3, 10]; symbol-to-word ratio ≤ 0.1 ('#' words and
    * '...'-bearing words); bullet lines ≤ 90%; ellipsis-ending lines
    * ≤ 30%; alphabetic-word fraction ≥ 80%; ≥ 2 stop words.
    *
    * Scale: pure row-local column work fused into the scan (the
    * split/filter lambdas are interpreted, not codegen — the
    * secretRewrite trade: per-row work is bounded by doc length and
    * there is NO shuffle before the #sources rollup).
    */
  private[graft] def gopherRuleProjection(docs: DataFrame): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val lines = split(col("text"), "\n")
    docs
      .select(
        col("doc_id"),
        col("source"),
        size(words).cast("bigint").as("n_words"),
        length(regexp_replace(col("text"), "\\s", "")).cast("bigint").as("n_wchars"),
        size(filter(words, w => w.rlike("^[a-z]+$"))).cast("bigint").as("n_alpha"),
        size(filter(words, w => w === "#" || w.contains("..."))).cast("bigint").as("n_symbol"),
        size(lines).cast("bigint").as("n_lines"),
        size(filter(lines, l => l.startsWith("- "))).cast("bigint").as("n_bullet"),
        size(filter(lines, l => l.endsWith("..."))).cast("bigint").as("n_ellipsis"),
        size(filter(tokens(col("text")), t => t.isin(GopherStops: _*)))
          .cast("bigint").as("n_stop")
      )
      .select(
        col("doc_id"),
        col("source"),
        (col("n_words") < 50L || col("n_words") > 100000L).as("fail_words"),
        (col("n_wchars") < col("n_words") * 3L ||
          col("n_wchars") > col("n_words") * 10L).as("fail_mwl"),
        (col("n_symbol") * 10L > col("n_words")).as("fail_symbol"),
        (col("n_bullet") * 10L > col("n_lines") * 9L).as("fail_bullet"),
        (col("n_ellipsis") * 10L > col("n_lines") * 3L).as("fail_ellipsis"),
        (col("n_alpha") * 5L < col("n_words") * 4L).as("fail_alpha"),
        (col("n_stop") < 2L).as("fail_stop")
      )
  }

  /** The Gopher/MassiveText quality-rule sheet per source: how many
    * docs fail each of the seven published heuristics and the ppm that
    * survive all of them — the standard first-pass web filter
    * (MassiveText, FineWeb, Dolma all run a variant) evaluated as one
    * scan-bound pass. Per-rule counts (not just the conjunction) are
    * what lets a pipeline owner see WHICH rule does the cutting before
    * committing a 100 TB filter run.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    def f(c: String): Column = sum(when(col(c), 1L).otherwise(0L)).as(c)
    gopherRuleProjection(gopherDocs(spark, dir))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        f("fail_words"), f("fail_mwl"), f("fail_symbol"), f("fail_bullet"),
        f("fail_ellipsis"), f("fail_alpha"), f("fail_stop"),
        sum(
          when(!col("fail_words") && !col("fail_mwl") && !col("fail_symbol") &&
            !col("fail_bullet") && !col("fail_ellipsis") && !col("fail_alpha") &&
            !col("fail_stop"), 1L).otherwise(0L)
        ).as("n_pass")
      )
      .withColumn(
        "pass_ppm",
        expr("CAST(CAST(n_pass AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
      )
  }

  /** The repeated-phrase corpus for the Gopher REPETITION rules
    * (mirrored in the oracle CTE): a run of 30 `spark` tokens on
    * %37 docs — those docs top out at ≤ 98 natural words at every SF,
    * so the planted run's top bigram share (≥ 29/127 = 22.8%) exceeds
    * the 20% threshold unconditionally, and likewise at n = 3, 4.
    */
  private[graft] def repeatInjectExpr: Column =
    expr("concat(text, CASE WHEN doc_id % 37 = 0 THEN repeat(' spark', 30) ELSE '' END)")

  private[graft] def repDocs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), repeatInjectExpr.as("text"))

  /** Gopher top-n-gram repetition rules (Rae et al. 2021, App. A):
    * per source and n ∈ {2,3,4}, how many docs put more than
    * {20%, 18%, 16%} of their n-gram occurrences into the single most
    * frequent n-gram — the repeated-phrase spam signal the word-level
    * [[repetitionStats]] max-run rule cannot see (a phrase loop never
    * repeats the SAME token twice in a row). Occurrence share stands
    * in for the paper's character share (the tokens are near-constant
    * width here); the cross-multiplied compare `top_c·10⁶ > thr·grams`
    * keeps the decision integer-exact.
    *
    * Scale: the n-gram explode stays pipelined in the scan and emits
    * the codegen `shingle_hashes` kernel's 60-bit window hashes, NOT
    * gram strings — the hashed-postings discipline: the only shuffle
    * is a (doc, n, hash) count over LONG keys (map-side combined),
    * then a (doc, n) max, both key-bounded. A 60-bit collision within
    * one doc's ≤10⁶ grams is ~10⁻¹⁸ and gate-consistent anyway (the
    * oracle counts the SAME md5 hashes; `hash_collision_audit` is the
    * standing corpus-level check). The doc spine left-join restores
    * docs shorter than n tokens as passing rows, so the sheet's
    * n_docs is the corpus count, not the gram-bearing count.
    */
  def topNgramMass(spark: SparkSession, dir: String): DataFrame = {
    val base = repDocs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"), tokens(lower(col("text"))).as("toks"))
    val grams = base
      .select(
        col("doc_id"),
        explode(
          array((2 to 4).map { n =>
            struct(
              lit(n.toLong).as("n"),
              graft.functions.VectorExpressions.shingleHashes(col("toks"), lit(n)).as("gs")
            )
          }: _*)
        ).as("lv")
      )
      .select(col("doc_id"), col("lv.n").as("n"), explode(col("lv.gs")).as("g"))
    val perDoc = grams
      .groupBy(col("doc_id"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_grams"))
    val spine = base
      .select(col("doc_id"), col("source"))
      .crossJoin(broadcast(spark.range(2, 5).select(col("id").as("n"))))
    val thr = when(col("n") === 2L, 200000L)
      .when(col("n") === 3L, 180000L)
      .otherwise(160000L)
    spine
      .join(perDoc, Seq("doc_id", "n"), "left")
      .select(
        col("source"),
        col("n"),
        coalesce(col("top_c"), lit(0L)).as("top_c"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        thr.as("thr")
      )
      .groupBy(col("source"), col("n"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("top_c") * 1000000L > col("thr") * col("n_grams"), 1L)
          .otherwise(0L)).as("n_over"),
        sum(col("top_c")).as("sum_top"),
        sum(col("n_grams")).as("sum_grams")
      )
      .withColumn(
        "over_ppm",
        expr("CAST(CAST(n_over AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
      )
  }

  // ── DoReMi-style domain reweighting (hardness mixture step) ───────

  /** One multiplicative-weights step of DoReMi-style domain
    * reweighting, driven by the KN LM's per-domain perplexity: domains
    * whose documents the corpus LM finds HARD (mean avg_nll64 above
    * the corpus mean) get upweighted exponentially —
    * w_i ∝ 2^(excess_i/64), the η = 1-per-1/64-bit mirror-descent
    * update from the uniform mixture (true DoReMi takes excess =
    * proxy − reference model loss over many steps; the single
    * hardness step here is the same arithmetic with the corpus mean
    * as the reference, documented as such). The exponential is
    * [[graft.functions.Exp2Kernel]] — the integer inverse of c64,
    * dyadic-root constants quantized once — so weights are EXACT in
    * both engines: exponents shift so the max lands at 2⁴⁰, floors
    * below zero clamp to weight-1 units, and weight_ppm is one floor
    * division by the total.
    *
    * Scale: per-domain means come off [[knDocPpl]] (ONE aggregate of
    * the memoized model scoring pass — the corpus contributes exactly
    * one scan here); the global mean folds from the collected
    * per-source vector (Σs/Σn is exact over the per-source integer
    * totals — a second corpus aggregate would recompute the identical
    * number), and the weight fold runs on the driver over the
    * #sources-bounded vector — the waterfill / temperature-allocator
    * contract, with the oracle re-deriving the same chain
    * relationally.
    *
    * Known bias, deliberate: docs with < 2 tokens surface from
    * [[knDocPpl]] with avg_nll64 = 0 and are INCLUDED in both the
    * per-source and global means (the oracle twin includes them
    * identically), so a source's hardness signal mixes LM surprise
    * with its short-doc fraction — "many tiny docs" reads as "easy".
    * A production DoReMi step would filter n_bigrams = 0 from both
    * means; kept inclusive here so the weight covers every document
    * the mixture will actually sample.
    */
  def doremiWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perSrc = knDocPpl(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("avg_nll64")).as("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
      .toSeq
    val gmean = perSrc.map(_._3).sum / perSrc.map(_._2).sum
    val means = perSrc.map { case (src, n, s) => (src, n, s / n) }
    val excess = means.map { case (src, n, m) => (src, n, m, m - gmean) }
    val mx = excess.map(_._4).max
    val rows = excess.map { case (src, n, m, e) =>
      val y = math.max(e - mx + graft.functions.Exp2Kernel.MaxY, 0L)
      (src, n, m, e, graft.functions.Exp2Kernel.exp2q(y))
    }
    val tv = rows.map(r => BigInt(r._5)).sum
    rows
      .map { case (src, n, m, e, v) =>
        (src, n, m, e, (BigInt(v) * 1000000 / tv).toLong)
      }
      .toDF("source", "n_docs", "mean_nll64", "excess_nll64", "weight_ppm")
  }

  // ── Bradley-Terry source ratings (pairwise-duel reward fit) ───────

  val BtMinBuckets = 8L
  val BtBucketDocs = 4096L
  val BtRounds = 3

  /** Duel-bucket count, derived from corpus size so the matchmaking
    * sort's parallelism SCALES WITH THE CORPUS instead of being a
    * fixed 8-task ceiling (round 8's constant): ⌈n/4096⌉ buckets,
    * floored at 8 — ≤ ~4096 docs sort per bucket task at any SF, and
    * both test corpora (500 / 5000 docs) collapse to exactly 8, so
    * gate hashes are formula-invariant there. Matchmaking is
    * hash-based, so ANY bucket count yields a valid uniform pairing;
    * the oracle twin derives the identical count from COUNT(*).
    */
  private[graft] def btBuckets(nDocs: Long): Long =
    math.max(BtMinBuckets, (nDocs + BtBucketDocs - 1) / BtBucketDocs)

  /** Deterministic quality duels: docs are bucketed by the 60-bit md5
    * of their id ([[btBuckets]] buckets — corpus-scaled, see there),
    * ranked inside each bucket by (fp, doc_id), and adjacent ranks
    * duel — the sorted-neighborhood pairing shape, so matchmaking is
    * reproducible and uniform without any corpus self-join. The
    * winner is the higher hashgram classifier score
    * ([[hashgramGateProjection]]'s scorer — the session's stand-in
    * for a reward model), ties to the lower doc_id; odd leftover docs
    * in a bucket sit out. One corpus count (parquet-metadata cheap)
    * fixes the bucket grid, then one keyed window + one agg —
    * corpus-linear, no pair blowup, per-task sort bounded by
    * [[BtBucketDocs]].
    */
  private[graft] def btDuels(
      spark: SparkSession,
      dir: String,
      bucketsOverride: Option[Long] = None): DataFrame = {
    val buckets = bucketsOverride.getOrElse(
      btBuckets(Tables.documents(spark, dir).count()))
    val scored = hashgramGateProjection(
      Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism))
      .withColumn(
        "fp",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint"))
      .withColumn("bkt", pmod(col("fp"), lit(buckets)))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("bkt")).orderBy(col("fp"), col("doc_id"))))
      .withColumn("duel", expr("CAST((rn - 1) div 2 AS BIGINT)"))
    scored
      .groupBy(col("bkt"), col("duel"))
      .agg(
        count(lit(1)).as("n"),
        max_by(struct(col("source"), col("doc_id")),
          struct(col("score"), -col("doc_id"))).as("w"),
        min_by(struct(col("source"), col("doc_id")),
          struct(col("score"), -col("doc_id"))).as("l")
      )
      .filter(col("n") === 2)
      .select(col("w.source").as("winner_src"), col("l.source").as("loser_src"))
  }

  /** Bradley-Terry strength ratings of the SOURCES from the doc-level
    * duels — the reward-model-style rating fit of the RLHF data
    * pipeline (sources here play the role players/policies play in
    * preference learning): W[a][b] cross-source win counts feed
    * Zermelo's MM iteration
    *
    *   r_i ← W_i / Σ_{j≠i} n_ij / (r_i + r_j),
    *
    * run [[BtRounds]] rounds in EXACT integer arithmetic — per-term
    * floor d_i = Σ ⌊n_ij·10¹² / (r_i + r_j)⌋, update
    * r'_i = max(⌊W_i·10¹² / d_i⌋, 1) (no-game sources keep their
    * rating), then renormalized to Σr = n·10⁶ by floor division. The
    * DuckDB twin unrolls the identical arithmetic in HUGEINT CTE
    * rounds; here the rounds run on the driver over the collected
    * source×source matrix — #sources-bounded (the perceptron_epoch
    * 64-row-broadcast class), while the corpus contributes exactly
    * one scan (the duel pass).
    */
  def btSourceRatings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val matrix = btDuels(spark, dir)
      .filter(col("winner_src") =!= col("loser_src"))
      .groupBy(col("winner_src"), col("loser_src"))
      .agg(count(lit(1)).as("w"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val sources = Tables
      .documents(spark, dir)
      .select(col("source"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
      .toSeq
    def winsOf(a: String, b: String): Long = matrix.getOrElse((a, b), 0L)
    def nij(a: String, b: String): Long = winsOf(a, b) + winsOf(b, a)
    val T = BigInt("1000000000000")
    var r: Map[String, BigInt] = sources.map(_ -> BigInt(1000000)).toMap
    for (_ <- 1 to BtRounds) {
      val r0 = sources.map { i =>
        val d = sources.filter(_ != i).map(j => BigInt(nij(i, j)) * T / (r(i) + r(j))).sum
        val wi = sources.filter(_ != i).map(j => BigInt(winsOf(i, j))).sum
        i -> (if (d == 0) r(i) else (wi * T / d).max(BigInt(1)))
      }.toMap
      val t = r0.values.sum
      r = sources
        .map(i => i -> (r0(i) * sources.size * 1000000 / t).max(BigInt(1)))
        .toMap
    }
    sources
      .map { i =>
        val games = sources.filter(_ != i).map(j => nij(i, j)).sum
        val wins = sources.filter(_ != i).map(j => winsOf(i, j)).sum
        (i, games, wins, r(i).toLong)
      }
      .toDF("source", "n_games", "n_wins", "rating_q")
  }

  // ── Kneser-Ney bigram LM + perplexity buckets (round-8 cont.) ─────

  /** p quantized to 1/2⁵⁰ before the integer log — see [[knModel]]. */
  val KnQpShift = 50

  /** Interpolated Kneser-Ney bigram model (D = 3/4) with EXACT integer
    * probabilities — the smoothed upgrade of [[lmDocScore]]'s MLE
    * model, and the LM the CCNet-style perplexity filter
    * ([[pplBucketSplit]]) actually wants (an MLE model assigns seen
    * transitions unsmoothed mass and cannot rank docs by how TYPICAL
    * their transitions are; KN discounting redistributes mass by
    * continuation counts).
    *
    *   p(w|h) = (c(hw) − D)/c(h) + (D·N1+(h·)/c(h)) · (N1+(·w)/T)
    *
    * with D = 3/4 rational, so over the common denominator 4·c(h)·T
    * the numerator (4·c(hw) − 3)·T + 3·N1+(h·)·N1+(·w) is pure
    * integer. p is then quantized to qp = ⌊p·2⁵⁰⌋ through
    * DECIMAL(38,0) floor division (exact in both engines; the DuckDB
    * twin runs the same products in HUGEINT — two exact-integer
    * mechanisms, one value), and the negative log₂ in 1/64-bit units
    * is nll64 = 64·[[KnQpShift]] − c64(qp) via the `c64_log2` codegen
    * expression ([[graft.functions.C64Kernel]]) — no transcendental
    * anywhere in the gate. Domain: qp ≥ 1 iff c(h) < 2⁴⁸ (no bigram
    * head reaches 2.8·10¹⁴ occurrences even at 100 TB) and the
    * DECIMAL(38,0) products cap at ~4·c(hw)·T·2⁵⁰ < 10³⁸ for corpora
    * up to ~10¹² bigram tokens × ~10¹⁰ types.
    *
    * Plan shape at 100 TB: the corpus collapses ONCE to the
    * (head, nxt, cnt) TYPE table (map-side partial agg — the wc
    * shuffle); the three KN statistics are two window passes over that
    * Heaps-bounded table (head- and nxt-keyed); T joins back as a
    * broadcast 1-row frame. The model is data-bounded but NOT
    * driver-bounded — nothing here collects — which is exactly why
    * c64 exists as a distributed expression and not only as the
    * unigram fit's driver fold. Scoring joins the corpus bigram
    * stream by its 60-bit md5 fingerprint: strings never shuffle at
    * corpus volume. Collision envelope, documented deliberately: two
    * DISTINCT bigram types sharing a 60-bit fp would double-join a
    * doc bigram against both scores — expected collisions are
    * ~n²/2⁶¹, i.e. ~half a pair at 10⁹ types and only material near
    * the ~10¹⁰-type Heaps ceiling of the 100 TB envelope, where the
    * fingerprint should widen to (fp, head) or 90 bits. Uniqueness is
    * ASSERTED live at two seams: the StreamingSpec model-load test
    * (map size == model row count) and [[graft.streaming
    * .PplGateStream.modelIndex]]'s loud collision guard.
    */
  private[graft] def knModel(spark: SparkSession, dir: String): DataFrame = {
    val types = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(2))
        ).as("bg")
      )
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("c_hw"))
      .select(
        col("bg"),
        split(col("bg"), " ").getItem(0).as("head"),
        split(col("bg"), " ").getItem(1).as("nxt"),
        col("c_hw")
      )
    val wHead = Window.partitionBy(col("head"))
    val wNxt = Window.partitionBy(col("nxt"))
    val stats = types
      .withColumn("c_h", sum(col("c_hw")).over(wHead))
      .withColumn("n1p_h", count(lit(1)).over(wHead))
      .withColumn("cont_w", count(lit(1)).over(wNxt))
    val totals = types.agg(count(lit(1)).as("t_types"))
    stats
      .crossJoin(broadcast(totals))
      .withColumn(
        "qp",
        expr(
          s"""CAST(
             | (CAST(4*c_hw - 3 AS DECIMAL(38,0)) * t_types
             |  + CAST(3*n1p_h AS DECIMAL(38,0)) * cont_w)
             | * CAST(${1L << KnQpShift} AS DECIMAL(38,0))
             | DIV (CAST(4*c_h AS DECIMAL(38,0)) * t_types)
             |AS BIGINT)""".stripMargin
        )
      )
      .withColumn(
        "nll64",
        lit(64L * KnQpShift) - graft.functions.VectorExpressions.c64Log2(col("qp"))
      )
      .select(
        conv(substring(md5(col("bg")), 1, 15), 16, 10).cast("bigint").as("bg_fp"),
        col("head"),
        col("nxt"),
        col("c_hw"),
        col("c_h"),
        col("n1p_h"),
        col("cont_w"),
        col("qp"),
        col("nll64")
      )
  }

  /** Session-memoized KN model — bigram-TYPE-bounded (the
    * bpe_fit_types artifact class, NEVER corpus-sized), shared by the
    * fit readout, the per-doc scorer and the bucket split so the
    * model trains once per session exactly as a 100 TB pipeline
    * would train it once per corpus snapshot.
    */
  private def knModelArtifact(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "kn_model")(knModel(spark, dir))

  /** The memoized model for [[graft.streaming.PplGateStream]]'s
    * bounded reference-model broadcast (CCNet's discipline: the gate
    * LM trains on a bounded reference snapshot, not the crawl).
    */
  private[graft] def knModelForStream(spark: SparkSession, dir: String): DataFrame =
    knModelArtifact(spark, dir)

  /** The KN model's top transitions — the k-bounded fit readout:
    * top 25 bigrams by quantized probability (ties by head, nxt).
    */
  def knBigramFit(spark: SparkSession, dir: String): DataFrame =
    knModelArtifact(spark, dir)
      .select(
        col("head"), col("nxt"), col("c_hw"), col("c_h"),
        col("n1p_h"), col("cont_w"), col("qp"), col("nll64"))
      .orderBy(col("qp").desc, col("head"), col("nxt"))
      .limit(25)

  /** Per-document KN perplexity: each doc's bigrams join the model by
    * 60-bit fingerprint (every doc bigram is in the model by
    * construction — the model trains on this corpus), sum_nll64 is the
    * doc's total negative log₂ in 1/64-bit units, and avg_nll64 (the
    * per-bigram floor-div mean) IS the quantized log-perplexity:
    * PPL = 2^(avg_nll64/64). Docs with < 2 tokens surface with zeros
    * (LEFT join from the docs spine — the detector_bakeoff zero-token
    * discipline), never silently dropped.
    */
  /** Round 11 (cont.): staged DURABLY once per (session, corpus) —
    * THREE consumers (the score sheet, [[doremiWeights]],
    * [[knOrderGain]]) each re-ran the bigram explode + model join.
    * Same staging class as `dsir_scores`.
    */
  def knDocPpl(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "kn_ppl")(
      knDocPplBuild(spark, dir))

  private[graft] def knDocPplBuild(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(2))
        ).as("bg")
      )
      .select(
        col("doc_id"),
        conv(substring(md5(col("bg")), 1, 15), 16, 10).cast("bigint").as("bg_fp")
      )
      .join(knModelArtifact(spark, dir).select(col("bg_fp"), col("nll64")), Seq("bg_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll64")).as("sum_nll64"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_nll64"), lit(0L)).as("sum_nll64"),
        coalesce(expr("sum_nll64 DIV n_bigrams"), lit(0L)).as("avg_nll64")
      )
  }

  /** The CCNet discipline: per source, split docs into head / middle /
    * tail by LM perplexity tertiles (ntile(3) over avg_nll64, ties by
    * doc_id — head = most-typical third, the slice CCNet keeps first)
    * and report each bucket's size and mean quantized log-perplexity.
    * Round 10 re-pointed the split at the 5-GRAM score ([[kn5DocPpl]]
    * — the order CCNet's production KenLM actually runs) and moved
    * the bucket assignment off the source-keyed
    * `ntile(3)` window (|sources| sort tasks — 1/6th of a
    * partition-less window, not a scale-safe plan) onto
    * [[RankOps.withGroupNtile]]'s range-partitioned composition,
    * bit-identical to SQL NTILE for this strict (avg_nll64, doc_id)
    * order.
    */
  def pplBucketSplit(spark: SparkSession, dir: String): DataFrame =
    RankOps
      .withGroupNtile(
        kn5DocPpl(spark, dir),
        Seq(col("source")),
        3,
        "bucket",
        Seq(col("avg_nll64"), col("doc_id"))
      )
      .groupBy(col("source"), col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("avg_nll64")).as("sum_avg_nll64"),
        sum(col("n_grams")).as("n_grams")
      )
      .select(
        col("source"),
        when(col("bucket") === 1, lit("head"))
          .when(col("bucket") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        col("n_docs"),
        col("sum_avg_nll64"),
        expr("sum_avg_nll64 DIV n_docs").as("mean_nll64"),
        col("n_grams")
      )

  // ── One-pass raw-count ladder for KN orders 3/4/5 (round 11) ─────

  /** ONE corpus collapse for the whole order-3/4/5 Kneser-Ney ladder.
    * Emits (k, g, cnt): the k=5 slice is the raw 5-gram TYPE table;
    * the k∈{3,4} slices are per-doc TAIL-gram counts — the
    * doc-boundary correction that lets every lower order's raw counts
    * derive from the order above by prefix aggregation:
    *
    *   raw_k(g) = Σ_w raw_{k+1}(g·w) + tail_k(g)
    *
    * A k-gram at position i (doc length L) is the prefix of the
    * (k+1)-gram at i for every i ≤ L−k except the LAST position
    * L−k+1 — so exactly ONE tail gram per doc per order (the last k
    * tokens; docs shorter than k contribute none, and a doc with
    * L = k has its single k-gram AS the tail). Identity proven by the
    * brute-recount spec at sf0.001. One corpus explode instead of
    * three (the round-10 ladder paid the 5-gram collapse three
    * times); the #docs-bounded tail slices ride the same shuffle.
    */
  private[graft] def knRawBase(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(tokens(lower(col("text"))).as("t"))
      .select(
        explode(
          concat(
            transform(
              graft.functions.VectorExpressions.wordNgrams(col("t"), lit(5)),
              g => struct(lit(5).as("k"), g.as("g"))),
            filter(
              array((3 to 4).map(k =>
                when(
                  size(col("t")) >= k,
                  struct(
                    lit(k).as("k"),
                    array_join(slice(col("t"), -k, k), " ").as("g")))): _*),
              x => x.isNotNull)
          )
        ).as("kg"))
      .select(col("kg.k").as("k"), col("kg.g").as("g"))
      .groupBy(col("k"), col("g"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** raw_k from raw_{k+1} + the k-tail slice of [[knRawBase]] — the
    * prefix aggregation plus boundary correction above. TYPE-bounded
    * shuffles only; the corpus is never re-read.
    */
  private def knRawDerive(rawUp: DataFrame, base: DataFrame, k: Int): DataFrame =
    rawUp
      .groupBy(substring_index(col("g"), " ", k).as("g"))
      .agg(sum(col("cnt")).as("cnt"))
      .unionByName(base.filter(col("k") === k).select(col("g"), col("cnt")))
      .groupBy(col("g"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Un-materialized ladder (plan-audit / spec path): the memoizing
    * build in [[knFamilyArtifacts]] checkpoints each rung instead so
    * sibling orders never re-run the corpus collapse.
    */
  private[graft] def knRawTables(
      spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val base = knRawBase(spark, dir)
    val raw5 = base.filter(col("k") === 5).select(col("g"), col("cnt"))
    val raw4 = knRawDerive(raw5, base, 4)
    val raw3 = knRawDerive(raw4, base, 3)
    (raw3, raw4, raw5)
  }

  /** Release a TRANSIENT localCheckpoint (the ladder's raw rungs) once
    * the durable model artifacts are staged — these blocks back no
    * registered artifact, so holding them would only crowd the block
    * store until the next hygiene sweep.
    */
  private def dropTransientCheckpoint(df: DataFrame): Unit =
    org.apache.spark.sql.GraftSqlShim.analyzedPlan(df) match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  // ── Trigram Kneser-Ney with interpolated backoff (round-9 cont.) ──

  /** Interpolated Kneser-Ney TRIGRAM model (D = 3/4) — [[knModel]]'s
    * machinery extended one order with the canonical
    * continuation-count backoff chain, proving the recursion the
    * production CCNet filter runs at order 5 (KenLM):
    *
    *   p₃(w|u,v) = (c(uvw)−D)/c(uv) + D·N1+(uv·)/c(uv) · p₂(w|v)
    *   p₂(w|v)   = (N1+(·vw)−D)/N1+(·v·) + D·N1+(v·)/N1+(·v·) · p₁(w)
    *   p₁(w)     = N1+(··w)/T₂
    *
    * Every statistic comes off the trigram TYPE table (KenLM's
    * adjusted-count discipline): c(uv) = Σ_w c(uvw) is the
    * trigram-context total, N1+(uv·) the distinct continuations of
    * (u,v); the lower order uses CONTINUATION counts — N1+(·vw)
    * distinct predecessors of (v,w), N1+(·v·) distinct (u,w) around
    * middle v, N1+(v·) distinct w continuing v, N1+(··w) distinct v
    * preceding w, T₂ the continuation-bigram type count. max(·−D, 0)
    * never binds: only SEEN types are scored, and their counts are
    * ≥ 1.
    *
    * Exactness, two quantization stages (both engines take the SAME
    * floors, so the composition is bit-identical by construction):
    * p₂ collapses over the common denominator 4·N1+(·v·)·T₂ to the
    * pure-integer numerator (4·N1+(·vw)−3)·T₂ + 3·N1+(v·)·N1+(··w),
    * quantized qp₂ = ⌊p₂·2⁵⁰⌋ via DECIMAL(38,0) floor division
    * (products ≤ 4·N1+(·v·)·T₂·2⁵⁰ ≈ 10³⁶ at a 10¹⁰-type envelope);
    * then qp₃ = ⌊((4·c(uvw)−3)·2⁵⁰ + 3·N1+(uv·)·qp₂) / (4·c(uv))⌋
    * (products ≤ 4·10¹²·2⁵⁰ ≈ 10²⁸ — the DECIMAL(38,0) headroom is
    * why the backoff composes the QUANTIZED qp₂ instead of one
    * triple-denominator rational, which would need ~10⁴⁸).
    * nll64 = 64·[[KnQpShift]] − c64(qp₃) via the `c64_log2` codegen
    * kernel — no transcendental anywhere. Σ_w p₃(w|u,v) = 1 per
    * history in exact rationals BEFORE quantization; the BigInt
    * recompute spec asserts the three per-level integer mass
    * identities (Σ(4c−3) = 4c(uv)−3·N1+(uv·) per (u,v),
    * Σ(4N1c−3) = 4·N1+(·v·)−3·N1+(v·) per v, Σ N1+(··w) = T₂).
    *
    * Plan shape at 100 TB: the corpus collapses ONCE to the trigram
    * TYPE table (map-side partial agg); level-3 stats are two windows
    * over it ((u,v)-keyed); the continuation table is one groupBy of
    * the TYPE table, its stats two more windows (v- and w-keyed); T₂
    * broadcasts as a 1-row frame; the p₂→p₃ hookup is one
    * (v,w)-keyed equi-join of two TYPE-bounded tables. Scoring joins
    * the corpus trigram stream by 60-bit md5 fingerprint — strings
    * never shuffle at corpus volume (collision envelope exactly as
    * [[knModel]] documents).
    */
  private[graft] def kn3Model(spark: SparkSession, dir: String): DataFrame =
    kn3ModelFrom(spark, knRawTables(spark, dir)._1)

  /** [[kn3Model]]'s body against a prepared raw trigram-count table
    * (round 11: the one-pass ladder feeds all three orders from one
    * corpus collapse; counts — and therefore every downstream floor —
    * are identical to the per-order explode they replace).
    */
  private[graft] def kn3ModelFrom(spark: SparkSession, raw3: DataFrame): DataFrame = {
    val types = raw3
      .select(col("g").as("tg"), col("cnt").as("c_uvw"))
      .select(
        col("tg"),
        split(col("tg"), " ").getItem(0).as("u"),
        split(col("tg"), " ").getItem(1).as("v"),
        split(col("tg"), " ").getItem(2).as("w"),
        col("c_uvw")
      )
    val wUv = Window.partitionBy(col("u"), col("v"))
    val lvl3 = types
      .withColumn("c_uv", sum(col("c_uvw")).over(wUv))
      .withColumn("n1p_uv", count(lit(1)).over(wUv))
    val cont = types.groupBy(col("v"), col("w")).agg(count(lit(1)).as("n1c_vw"))
    val contStats = cont
      .withColumn("n1mid_v", sum(col("n1c_vw")).over(Window.partitionBy(col("v"))))
      .withColumn("n1p2_v", count(lit(1)).over(Window.partitionBy(col("v"))))
      .withColumn("cont2_w", count(lit(1)).over(Window.partitionBy(col("w"))))
    val totals = cont.agg(count(lit(1)).as("t2_types"))
    val qp2 = contStats
      .crossJoin(broadcast(totals))
      .withColumn(
        "qp2",
        expr(
          s"""CAST(
             | (CAST(4*n1c_vw - 3 AS DECIMAL(38,0)) * t2_types
             |  + CAST(3*n1p2_v AS DECIMAL(38,0)) * cont2_w)
             | * CAST(${1L << KnQpShift} AS DECIMAL(38,0))
             | DIV (CAST(4*n1mid_v AS DECIMAL(38,0)) * t2_types)
             |AS BIGINT)""".stripMargin
        )
      )
      .select(col("v"), col("w"), col("n1c_vw"), col("n1mid_v"),
        col("n1p2_v"), col("cont2_w"), col("qp2"))
    lvl3
      .join(qp2, Seq("v", "w"))
      .withColumn(
        "qp3",
        expr(
          s"""CAST(
             | (CAST(4*c_uvw - 3 AS DECIMAL(38,0)) * CAST(${1L << KnQpShift} AS DECIMAL(38,0))
             |  + CAST(3*n1p_uv AS DECIMAL(38,0)) * qp2)
             | DIV CAST(4*c_uv AS DECIMAL(38,0))
             |AS BIGINT)""".stripMargin
        )
      )
      .withColumn(
        "nll64",
        lit(64L * KnQpShift) - graft.functions.VectorExpressions.c64Log2(col("qp3"))
      )
      .select(
        conv(substring(md5(col("tg")), 1, 15), 16, 10).cast("bigint").as("tg_fp"),
        col("u"), col("v"), col("w"),
        col("c_uvw"), col("c_uv"), col("n1p_uv"),
        col("n1c_vw"), col("n1mid_v"), col("n1p2_v"), col("cont2_w"),
        col("qp2"), col("qp3"), col("nll64")
      )
  }

  /** The trigram model, built by [[knFamilyArtifacts]] off the shared
    * one-pass ladder — DURABLE parquet staging, never pinned blocks
    * (at the design scale the trigram TYPE table is far beyond the
    * pinned registry's pair-/type-bounded contract; see the staging
    * rationale on [[knFamilyArtifacts]]).
    */
  private def kn3ModelArtifact(spark: SparkSession, dir: String): DataFrame =
    knFamilyArtifacts(spark, dir)._1

  /** The trigram model's top transitions — the k-bounded fit readout:
    * top 25 trigrams by quantized probability (ties by u, v, w).
    */
  def kn3TrigramFit(spark: SparkSession, dir: String): DataFrame =
    kn3ModelArtifact(spark, dir)
      .select(
        col("u"), col("v"), col("w"), col("c_uvw"), col("c_uv"),
        col("n1p_uv"), col("n1c_vw"), col("n1mid_v"), col("n1p2_v"),
        col("cont2_w"), col("qp2"), col("qp3"), col("nll64"))
      .orderBy(col("qp3").desc, col("u"), col("v"), col("w"))
      .limit(25)

  /** Per-document trigram KN perplexity: each doc's trigrams join the
    * model by 60-bit fingerprint (every doc trigram is in the model by
    * construction), avg_nll64 is the per-trigram floor-div mean —
    * PPL = 2^(avg_nll64/64). Docs with < 3 tokens surface with zeros
    * (LEFT join from the docs spine — [[knDocPpl]]'s discipline),
    * never silently dropped.
    */
  /** Round 11 (cont.): staged DURABLY like [[knDocPpl]] — three
    * consumers (the score sheet, [[knOrderGain]],
    * [[selectorAgreement]]). The model is resolved BEFORE the cell, so
    * the KN family's build time is billed to its own `artifact:` lines
    * instead of also to `kn3_ppl`.
    */
  def kn3DocPpl(spark: SparkSession, dir: String): DataFrame = {
    val model = kn3ModelArtifact(spark, dir)
    Artifacts.stage(spark, dir, "kn3_ppl")(kn3DocPplFrom(spark, dir, model))
  }

  private[graft] def kn3DocPplBuild(spark: SparkSession, dir: String): DataFrame =
    kn3DocPplFrom(spark, dir, kn3ModelArtifact(spark, dir))

  private def kn3DocPplFrom(
      spark: SparkSession,
      dir: String,
      model: DataFrame): DataFrame = {
    val perDoc = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(3))
        ).as("tg")
      )
      .select(
        col("doc_id"),
        conv(substring(md5(col("tg")), 1, 15), 16, 10).cast("bigint").as("tg_fp")
      )
      .join(model.select(col("tg_fp"), col("nll64")), Seq("tg_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("nll64")).as("sum_nll64"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("sum_nll64"), lit(0L)).as("sum_nll64"),
        coalesce(expr("sum_nll64 DIV n_trigrams"), lit(0L)).as("avg_nll64")
      )
  }

  // ── Order-N Kneser-Ney (round 10): the recursion made mechanical ──

  /** Interpolated Kneser-Ney model of arbitrary ORDER `n` (D = 3/4) —
    * [[kn3Model]]'s proven one-step qp-composition generalized, so
    * order 5 (CCNet's production KenLM order) ships from the same
    * recursion:
    *
    *   p_k(w|h) = (A_k(h,w)−D)/tot_k(h) + D·N1p_k(h)/tot_k(h)·p_{k−1}(w|h′)
    *   p_1(w)   = A_1(w)/T_1
    *
    * with KenLM's adjusted counts: A_n = raw n-gram TYPE counts;
    * A_k (k < n) = CONTINUATION counts — the distinct-left-extension
    * tally over the level-(k+1) TYPE table; tot_k / N1p_k the
    * per-history total and distinct-continuation count at level k.
    * At n = 3 this is exactly [[kn3Model]]'s statistic set (A_2 =
    * N1+(·vw), tot_2 = N1+(·v·), A_1 = N1+(··w), T_1 = T₂).
    *
    * Exactness — kn3's two-stage quantization applied level by level,
    * both engines taking the SAME floors in the SAME order: qp₂
    * collapses over the common denominator 4·tot₂·T₁ (products
    * ≤ 4·tot₂·T₁·2⁵⁰ ≈ 10³⁶ at a 10¹⁰-type envelope); every higher
    * level composes the QUANTIZED lower score,
    * qp_k = ⌊((4·A_k−3)·2⁵⁰ + 3·N1p_k·qp_{k−1}) / (4·tot_k)⌋
    * (numerator ≤ 4·10¹²·2⁵⁰ ≈ 10²⁸ — inside DECIMAL(38,0) headroom
    * at EVERY level, which is exactly why the recursion composes
    * quantized scores instead of one ever-growing rational).
    * nll64 = 64·[[KnQpShift]] − c64(qp) via the codegen kernel.
    * Per-level integer mass identities (Σ_w (4·A_k−3) =
    * 4·tot_k − 3·N1p_k per history; Σ_w A_1 = T_1) and a full BigInt
    * floor-composition recompute are spec-asserted at sf0.001.
    *
    * Plan shape at 100 TB: the corpus collapses ONCE to the n-gram
    * TYPE table (map-side partial agg); each adjusted-count table is
    * one groupBy of the level above (all TYPE-bounded, shrinking as k
    * falls); level stats are history-keyed windows; T₁ broadcasts as
    * a 1-row frame; each qp hookup is one suffix-keyed equi-join of
    * two TYPE-bounded tables. Word positions ride as space-joined
    * suffixes (`substring_index` — tokens contain no spaces by
    * construction of [[tokens]]); the scorer joins by 60-bit md5
    * fingerprint so gram strings never shuffle at corpus volume.
    */
  private[graft] def knNModel(spark: SparkSession, dir: String, n: Int): DataFrame = {
    require(n == 4 || n == 5, s"knNModel ships orders 4 and 5 off the ladder: $n")
    val raws = knRawTables(spark, dir)
    knNModelFrom(spark, if (n == 4) raws._2 else raws._3, n)
  }

  /** EVERY level's interpolated table for the order-`n` model built
    * from a prepared raw top-order count table: k → (g, cnt, tot,
    * n1p, qp) for k = 2..n (level 2 rows carry the same qp₂ the fold
    * always composed — exposing the intermediate levels is what the
    * round-11 count-pruned model needs for its per-level survivorship
    * and renormalized backoff weights; [[knNModelFrom]] is just
    * level n plus the nll projection, so the unpruned model's floors
    * are untouched).
    */
  /** @param mat materializer applied to every INTERMEDIATE frame the
    *   recursion builds on (each adjusted-count table and each level)
    *   — identity for the pure plan (specs / plan audits), a recording
    *   localCheckpoint in the artifact orchestrator. Without it, the
    *   level-k plan embeds the whole level-(k−1) subtree, so
    *   materializing the four level tables of an order-5 build re-ran
    *   the lower-level pyramid quadratically (measured round 11:
    *   kn5_model 20.9 s + kn4_model 12.7 s at sf0.1, idle host);
    *   threading the checkpoint through the recursion builds each
    *   level exactly once. Values are untouched — a checkpoint is
    *   plan-shape only.
    */
  private[graft] def knNLevels(
      spark: SparkSession,
      raw: DataFrame,
      n: Int,
      mat: DataFrame => DataFrame = identity): Map[Int, DataFrame] = {
    require(n >= 3, s"knNLevels ships orders >= 3 (order 2 is knModel): $n")
    val types = raw.select(col("g"), col("cnt"))
    // adjusted-count tables: aTab(n) = raw type counts; aTab(k) =
    // distinct-left-extension counts over the level-(k+1) types
    val aTab = scala.collection.mutable.Map(n -> types)
    for (k <- (n - 1) to 2 by -1)
      aTab(k) = mat(
        aTab(k + 1)
          .groupBy(substring_index(col("g"), " ", -k).as("g"))
          .agg(count(lit(1)).as("cnt")))
    def stats(k: Int): DataFrame = {
      val wHist = Window.partitionBy(substring_index(col("g"), " ", k - 1))
      aTab(k)
        .withColumn("tot", sum(col("cnt")).over(wHist))
        .withColumn("n1p", count(lit(1)).over(wHist))
    }
    val t1 = aTab(2).agg(count(lit(1)).as("t1_types"))
    val qp2 = stats(2)
      .withColumn(
        "cont_w",
        count(lit(1)).over(Window.partitionBy(substring_index(col("g"), " ", -1)))
      )
      .crossJoin(broadcast(t1))
      .withColumn(
        "qp",
        expr(
          s"""CAST(
             | (CAST(4*cnt - 3 AS DECIMAL(38,0)) * t1_types
             |  + CAST(3*n1p AS DECIMAL(38,0)) * cont_w)
             | * CAST(${1L << KnQpShift} AS DECIMAL(38,0))
             | DIV (CAST(4*tot AS DECIMAL(38,0)) * t1_types)
             |AS BIGINT)""".stripMargin
        )
      )
      .select(col("g"), col("cnt"), col("tot"), col("n1p"), col("qp"))
    // materialize non-top levels as they are built so level k+1's plan
    // references the materialized level k, not its whole subtree; the
    // top level is the caller's to finish/stage
    val levels = scala.collection.mutable.Map(2 -> mat(qp2))
    for (k <- 3 to n) {
      val lv = stats(k)
        .withColumn("sfx", substring_index(col("g"), " ", -(k - 1)))
        .join(
          levels(k - 1).select(col("g").as("sfx"), col("qp").as("qp_prev")),
          Seq("sfx"))
        .withColumn(
          "qp",
          expr(
            s"""CAST(
               | (CAST(4*cnt - 3 AS DECIMAL(38,0))
               |  * CAST(${1L << KnQpShift} AS DECIMAL(38,0))
               |  + CAST(3*n1p AS DECIMAL(38,0)) * qp_prev)
               | DIV CAST(4*tot AS DECIMAL(38,0))
               |AS BIGINT)""".stripMargin
          )
        )
        .select(col("g"), col("cnt"), col("tot"), col("n1p"), col("qp"))
      levels(k) = if (k < n) mat(lv) else lv
    }
    levels.toMap
  }

  /** The order-`n` model off a prepared raw table: level n of
    * [[knNLevels]] plus the fingerprint/nll projection — the same
    * floors in the same order as the round-10 per-order build.
    */
  private[graft] def knNModelFrom(
      spark: SparkSession,
      raw: DataFrame,
      n: Int,
      mat: DataFrame => DataFrame = identity): DataFrame =
    knFinishN(knNLevels(spark, raw, n, mat)(n))

  /** The nll/fingerprint projection finishing a level table into the
    * stored model frame (shared by the per-order build and the
    * family orchestrator's checkpointed-levels path).
    */
  private def knFinishN(top: DataFrame): DataFrame =
    top
      .withColumn(
        "nll64",
        lit(64L * KnQpShift) - graft.functions.VectorExpressions.c64Log2(col("qp"))
      )
      .select(
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("bigint").as("g_fp"),
        col("g"),
        col("cnt"),
        col("tot"),
        col("n1p"),
        col("qp"),
        col("nll64")
      )

  /** Count-pruning threshold knob: orders ≥ 3 DROP every gram whose
    * adjusted count (raw at the top order, continuation below) is
    * ≤ this value. Default 1 = prune singletons, the production KenLM
    * default shape; levels 1–2 are never pruned (also the production
    * default), which is what guarantees the scorer's fall-through
    * terminates at a stored bigram.
    */
  val KnPruneDefaultThreshold = 1L
  private def knPruneTheta(spark: SparkSession): Long =
    spark.conf
      .get("spark.graft.kn.pruneThreshold", KnPruneDefaultThreshold.toString)
      .toLong

  /** Count-pruned order-5 interpolated KN model with EXACT renormalized
    * backoff — the production KenLM form (unpruned order-5 models are
    * never shipped; most 5-grams are singletons).
    *
    * Survivorship: level k ∈ {3,4,5} keeps grams with cnt > θ
    * ([[knPruneTheta]]); level 2 is never pruned. A doc gram scored
    * against the pruned model takes the LONGEST surviving suffix m and
    * composes backoff weights down from the top:
    * qp = ⌊qγ₅(h₅)·…·⌊qγ_{m+1}(h_{m+1})·qp_m / 2^s⌋… / 2^s⌋ (floors
    * applied innermost-first at the lowest missing level — the
    * documented fold order both engines replay).
    *
    * Renormalization is EXACT, not approximate: for history h at
    * level k, γ'(h) = (1 − Σ_surv p_k(h,·)) / (1 − Σ_surv
    * p_{k−1}(h′,·)) — the standard pruning identity (the interpolated
    * model stores FULL probabilities, so the pruned mass of h is
    * 1 − Σ_surv p_k and it must scale the lower level's non-surviving
    * mass 1 − Σ_surv p_{k−1}). Quantized:
    * qγ = ⌊(2^s − Σ qp_k)·2^s / max(2^s − Σ qp_{k−1}, 1)⌋, sums over
    * the history's SURVIVING grams (each Σ < 2^s because the true
    * probabilities sum below 1 and floors only shrink). Two exactness
    * consequences the spec asserts: (a) a history whose grams ALL
    * survive gets γ' = γ (the original interpolation weight) in exact
    * rationals; (b) a history with NO survivors has Σ = 0 on both
    * levels ⇒ γ' = 1 EXACTLY — so it needs no stored row at all, and
    * the backoff table is bounded by the SURVIVING gram count, never
    * by histories (the lookup miss ⇒ 2^s identity the scorer
    * coalesces). Lower-level sums use the FULL (unpruned) level
    * estimates — SRILM's prune-time convention, documented and
    * replayed by the oracle.
    *
    * Output: one frame, kind ∈ {prob, backoff} × ord — `prob` rows
    * are surviving grams (ord 2 = the full never-pruned level) with
    * their interpolated qp; `backoff` rows are per-history qγ. All
    * lookups by 60-bit fingerprint so gram strings never shuffle at
    * scoring volume.
    */
  private[graft] def knPrunedFrom(
      spark: SparkSession,
      levels: Map[Int, DataFrame],
      theta: Long): DataFrame = {
    val shift = 1L << KnQpShift
    def fpOf(c: Column) = conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")
    val surv = (3 to 5).map(k => k -> levels(k).filter(col("cnt") > theta)).toMap
    val gammas = (3 to 5).map { k =>
      k -> surv(k)
        .withColumn("sfx", substring_index(col("g"), " ", -(k - 1)))
        .join(
          levels(k - 1).select(col("g").as("sfx"), col("qp").as("qp_lo")),
          Seq("sfx"))
        .groupBy(substring_index(col("g"), " ", k - 1).as("g"))
        .agg(sum(col("qp")).as("s_hi"), sum(col("qp_lo")).as("s_lo"))
        .select(
          col("g"),
          expr(
            s"""CAST(CAST($shift - s_hi AS DECIMAL(38,0))
               | * CAST($shift AS DECIMAL(38,0))
               | DIV greatest(CAST($shift - s_lo AS DECIMAL(38,0)),
               |              CAST(1 AS DECIMAL(38,0)))
               |AS BIGINT)""".stripMargin
          ).as("qp"))
    }.toMap
    val probs = ((2, levels(2)) :: (3 to 5).map(k => (k, surv(k))).toList).map {
      case (k, df) =>
        df.select(
          lit("prob").as("kind"),
          lit(k).as("ord"),
          col("g"),
          fpOf(col("g")).as("fp"),
          col("cnt"),
          col("qp"))
    }
    val backs = (3 to 5).toList.map { k =>
      gammas(k).select(
        lit("backoff").as("kind"),
        lit(k).as("ord"),
        col("g"),
        fpOf(col("g")).as("fp"),
        lit(null).cast("bigint").as("cnt"),
        col("qp"))
    }
    (probs ++ backs).reduce(_.unionByName(_))
  }

  /** Per-order size sheet of the pruned model vs the full TYPE
    * tables — the priced answer to "what does pruning buy": full
    * types, kept types, kept ppm, stored backoff rows. 4 rows.
    */
  private def knPrunedStatsFrom(
      levels: Map[Int, DataFrame],
      pruned: DataFrame): DataFrame =
    (2 to 5)
      .map { k =>
        broadcast(levels(k).agg(count(lit(1)).as("n_types")))
          .crossJoin(broadcast(
            pruned
              .filter(col("kind") === "prob" && col("ord") === k)
              .agg(count(lit(1)).as("n_kept"))))
          .crossJoin(broadcast(
            pruned
              .filter(col("kind") === "backoff" && col("ord") === k)
              .agg(count(lit(1)).as("n_backoff"))))
          .select(
            lit(k.toLong).as("ord"),
            col("n_types"),
            col("n_kept"),
            expr("n_kept * 1000000 DIV n_types").as("kept_ppm"),
            col("n_backoff"))
      }
      .reduce(_.unionByName(_))

  /** Build-and-memoize the WHOLE order-3/4/5 family — both unpruned
    * models, the order-5 count-pruned model, and its size sheet — off
    * ONE shared corpus collapse (the round-11 one-pass ladder:
    * [[knRawBase]] + prefix-aggregation rungs, each rung transiently
    * checkpointed so sibling orders never re-run the collapse, and
    * released once the artifacts are staged).
    *
    * Staging classes, honestly stated:
    *  - `kn3_model`/`kn4_model`/`kn5_model` (unpruned): DURABLE
    *    parquet staging, never pinned executor blocks. At the 100 TB
    *    design point the order-≥3 n-gram TYPE table is asymptotically
    *    corpus-co-scaled (most high-order grams are singletons — the
    *    round-10 "Heaps-law bounded" label was wrong for 5-grams:
    *    Heaps sublinearity holds for VOCABULARY, not high-order
    *    types), so these belong in the staging store exactly like
    *    KenLM's on-disk count files — the reference's
    *    intermediate-file materialization boundary — and NOT in the
    *    pinned registry, whose contract stays pair-/type-bounded.
    *  - `kn5_pruned` (+ 4-row `kn5_pruned_stats`): the form a
    *    production pipeline actually ships (KenLM always count-prunes
    *    at order 5). Singleton pruning removes the asymptotically
    *    dominant slice; the threshold knob rises with the token
    *    budget at larger corpora. Bounded (memo).
    *
    * The family is ONE once-cell: Verify's query pool may request two
    * members concurrently, and per-member cells alone would let the
    * second thread rebuild its own raw ladder for the members the
    * first has not reached yet (correct, but a second corpus collapse).
    */
  private def knFamilyArtifacts(
      spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    Artifacts.once(spark, dir, "kn_family") {
    var staged = List.empty[DataFrame]
    // recording checkpoint, threaded through the level recursion as
    // its `mat`: each adjusted-count table and each level materializes
    // exactly ONCE, and every higher level builds on the materialized
    // frame instead of embedding the lower-level subtree (measured
    // round 11, sf0.1 idle: the post-hoc per-level checkpoints re-ran
    // the pyramid quadratically — kn5_model 20.9 s, kn4_model 12.7 s;
    // threading drops the family build to one pass per level)
    def ckpt(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      staged = c :: staged
      c
    }
    var rawsOpt: Option[(DataFrame, DataFrame, DataFrame)] = None
    def raws(): (DataFrame, DataFrame, DataFrame) = rawsOpt.getOrElse {
      val base = knRawBase(spark, dir).localCheckpoint()
      val raw5 = base.filter(col("k") === 5).select(col("g"), col("cnt"))
      val raw4 = knRawDerive(raw5, base, 4).localCheckpoint()
      val raw3 = knRawDerive(raw4, base, 3).localCheckpoint()
      staged = List(base, raw4, raw3)
      val t = (raw3, raw4, raw5)
      rawsOpt = Some(t)
      t
    }
    // the order-5 level tables feed THREE consumers (unpruned model,
    // pruned model, stats sheet) — materialize each level once (the
    // recursion checkpoints levels 2..4 itself; the top level is
    // checkpointed here for its three consumers)
    lazy val levels5: Map[Int, DataFrame] = {
      val ls = knNLevels(spark, raws()._3, 5, ckpt)
      ls.updated(5, ckpt(ls(5)))
    }
    try {
      val m3 = Artifacts.stage(spark, dir, "kn3_model")(
        kn3ModelFrom(spark, raws()._1))
      val m4 = Artifacts.stage(spark, dir, "kn4_model")(
        knNModelFrom(spark, raws()._2, 4, ckpt))
      val m5 = Artifacts.stage(spark, dir, "kn5_model")(
        knFinishN(levels5(5)))
      val pruned = Artifacts.memo(spark, dir, "kn5_pruned")(
        knPrunedFrom(spark, levels5, knPruneTheta(spark)))
      val stats = Artifacts.memo(spark, dir, "kn5_pruned_stats")(
        knPrunedStatsFrom(levels5, pruned))
      (m3, m4, m5, pruned, stats)
    } finally staged.foreach(dropTransientCheckpoint)
    }

  private def kn4ModelArtifact(spark: SparkSession, dir: String): DataFrame =
    knFamilyArtifacts(spark, dir)._2
  private def kn5ModelArtifact(spark: SparkSession, dir: String): DataFrame =
    knFamilyArtifacts(spark, dir)._3
  private[graft] def kn5PrunedArtifact(spark: SparkSession, dir: String): DataFrame =
    knFamilyArtifacts(spark, dir)._4
  private def kn5PrunedStatsArtifact(spark: SparkSession, dir: String): DataFrame =
    knFamilyArtifacts(spark, dir)._5

  /** The 5-gram model's top transitions — the k-bounded fit readout:
    * top 25 five-grams by quantized probability (ties by gram).
    */
  def kn5Fit(spark: SparkSession, dir: String): DataFrame =
    kn5ModelArtifact(spark, dir)
      .select(col("g"), col("cnt"), col("tot"), col("n1p"), col("qp"), col("nll64"))
      .orderBy(col("qp").desc, col("g").asc)
      .limit(25)

  /** Per-document order-n KN perplexity — [[kn3DocPpl]]'s shape with
    * the generic model: doc n-grams join the model by 60-bit
    * fingerprint (every doc n-gram is in the model by construction),
    * avg_nll64 is the per-gram floor-div mean, docs with < n tokens
    * surface with zeros off the LEFT spine.
    */
  private def knNDocPpl(
      spark: SparkSession,
      dir: String,
      n: Int,
      model: DataFrame
  ): DataFrame = {
    val perDoc = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(n))
        ).as("g")
      )
      .select(
        col("doc_id"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("bigint").as("g_fp")
      )
      .join(model.select(col("g_fp"), col("nll64")), Seq("g_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("nll64")).as("sum_nll64"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("sum_nll64"), lit(0L)).as("sum_nll64"),
        coalesce(expr("sum_nll64 DIV n_grams"), lit(0L)).as("avg_nll64")
      )
  }

  def kn4DocPpl(spark: SparkSession, dir: String): DataFrame =
    knNDocPpl(spark, dir, 4, kn4ModelArtifact(spark, dir))

  /** Round 11 (cont.): staged DURABLY like [[knDocPpl]] — two
    * consumers (the score sheet, [[pplBucketSplit]]). kn4DocPpl has a
    * single consumer and stays unstaged (a staging write would only
    * add cost). Model resolved before the cell, as in [[kn3DocPpl]].
    */
  def kn5DocPpl(spark: SparkSession, dir: String): DataFrame = {
    val model = kn5ModelArtifact(spark, dir)
    Artifacts.stage(spark, dir, "kn5_ppl")(knNDocPpl(spark, dir, 5, model))
  }

  private[graft] def kn5DocPplBuild(spark: SparkSession, dir: String): DataFrame =
    knNDocPpl(spark, dir, 5, kn5ModelArtifact(spark, dir))

  /** Pruned-model fit readout: top 25 SURVIVING 5-grams by quantized
    * probability (ties by gram) — [[kn5Fit]]'s sheet for the model a
    * pipeline actually ships (NOT the same 25 rows: high-qp singleton
    * 5-grams of low-count histories are pruned away).
    */
  def kn5PrunedFit(spark: SparkSession, dir: String): DataFrame =
    kn5PrunedArtifact(spark, dir)
      .filter(col("kind") === "prob" && col("ord") === 5)
      .select(col("g"), col("cnt"), col("qp"))
      .orderBy(col("qp").desc, col("g").asc)
      .limit(25)

  /** Per-order pruning size sheet ([[knPrunedStatsFrom]]) — the
    * pruned-vs-unpruned model-size readout the BASELINE quotes.
    */
  def kn5PrunedStats(spark: SparkSession, dir: String): DataFrame =
    kn5PrunedStatsArtifact(spark, dir)

  /** Per-document perplexity against the PRUNED order-5 model — the
    * real KenLM scoring behavior the unpruned every-gram-is-stored
    * join sidesteps: each doc 5-gram takes its longest surviving
    * suffix and composes the stored renormalized backoff weights down
    * from the top (missing history ⇒ the exact γ' = 1 identity, see
    * [[knPrunedFrom]]); `n_backoff` counts the grams that fell back.
    * All model lookups are 60-bit-fingerprint equi-joins; the final
    * floor is guarded to ≥ 1 before the c64 log (a fully-composed
    * product can floor to zero), the guard replayed by the oracle.
    */
  def kn5PrunedDocPpl(spark: SparkSession, dir: String): DataFrame = {
    val shift = 1L << KnQpShift
    val art = kn5PrunedArtifact(spark, dir)
    def fpOf(c: Column) = conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")
    def probs(k: Int, fpName: String, qpName: String) =
      art
        .filter(col("kind") === "prob" && col("ord") === k)
        .select(col("fp").as(fpName), col("qp").as(qpName))
    def backs(k: Int, fpName: String, qpName: String) =
      art
        .filter(col("kind") === "backoff" && col("ord") === k)
        .select(col("fp").as(fpName), col("qp").as(qpName))
    val grams = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        explode(
          graft.functions.VectorExpressions
            .wordNgrams(tokens(lower(col("text"))), lit(5))
        ).as("g"))
      .withColumn("ctx", substring_index(col("g"), " ", 4))
      .select(
        col("doc_id"),
        fpOf(col("g")).as("fp5"),
        fpOf(substring_index(col("g"), " ", -4)).as("fp4"),
        fpOf(substring_index(col("g"), " ", -3)).as("fp3"),
        fpOf(substring_index(col("g"), " ", -2)).as("fp2"),
        fpOf(col("ctx")).as("h5"),
        fpOf(substring_index(col("ctx"), " ", -3)).as("h4"),
        fpOf(substring_index(col("ctx"), " ", -2)).as("h3"))
    val scored = grams
      .join(probs(5, "fp5", "qp5"), Seq("fp5"), "left")
      .join(probs(4, "fp4", "qp4"), Seq("fp4"), "left")
      .join(probs(3, "fp3", "qp3"), Seq("fp3"), "left")
      .join(probs(2, "fp2", "qp2"), Seq("fp2"))
      .join(backs(5, "h5", "bg5"), Seq("h5"), "left")
      .join(backs(4, "h4", "bg4"), Seq("h4"), "left")
      .join(backs(3, "h3", "bg3"), Seq("h3"), "left")
      .withColumn("g5", coalesce(col("bg5"), lit(shift)))
      .withColumn("g4", coalesce(col("bg4"), lit(shift)))
      .withColumn("g3", coalesce(col("bg3"), lit(shift)))
      .withColumn(
        "qfin",
        expr(
          s"""greatest(CASE
             | WHEN qp5 IS NOT NULL THEN qp5
             | WHEN qp4 IS NOT NULL THEN
             |  CAST(CAST(g5 AS DECIMAL(38,0)) * qp4 DIV $shift AS BIGINT)
             | WHEN qp3 IS NOT NULL THEN
             |  CAST(CAST(g5 AS DECIMAL(38,0))
             |   * (CAST(g4 AS DECIMAL(38,0)) * qp3 DIV $shift)
             |   DIV $shift AS BIGINT)
             | ELSE
             |  CAST(CAST(g5 AS DECIMAL(38,0))
             |   * (CAST(g4 AS DECIMAL(38,0))
             |      * (CAST(g3 AS DECIMAL(38,0)) * qp2 DIV $shift)
             |      DIV $shift)
             |   DIV $shift AS BIGINT)
             |END, CAST(1 AS BIGINT))""".stripMargin
        ))
      .withColumn(
        "nll64",
        lit(64L * KnQpShift) - graft.functions.VectorExpressions.c64Log2(col("qfin")))
      .withColumn("fellback", when(col("qp5").isNull, lit(1L)).otherwise(lit(0L)))
    val perDoc = scored
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("fellback")).as("n_backoff"),
        sum(col("nll64")).as("sum_nll64"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("sum_nll64"), lit(0L)).as("sum_nll64"),
        coalesce(expr("sum_nll64 DIV n_grams"), lit(0L)).as("avg_nll64"))
  }

  /** The LM ORDER CURVE: per source, mean quantized log-perplexity at
    * every model order 2..5 over the docs ALL FOUR models score
    * (n_grams > 0 at order 5 ⟹ scorable at every lower order), plus
    * each order's gain over the previous — [[knOrderGain]]'s 2-vs-3
    * sheet extended to the full curve a pipeline owner reads before
    * paying for the next order's model. Round 11: ONE corpus explode
    * (every order's doc grams, (ord, fp)-tagged) joined once against
    * the four memoized models unioned on (ord, fp) — the four
    * per-order scoring passes collapse to a single corpus scan with
    * identical per-doc sums and floors; then one #sources aggregate,
    * a structural stack unpivot of the bounded frame, and a
    * (source, ord−1) self-join for the gains (no window — the frame
    * is #sources x 4 rows).
    */
  def knOrderCurve(spark: SparkSession, dir: String): DataFrame = {
    // round 11: ONE corpus explode emits every order's doc grams
    // (tagged (ord, fp)) and ONE equi-join against the four models
    // unioned on (ord, fp) replaces the four separate scoring passes —
    // same per-doc sums, same floors, 1/4 the corpus scans
    val models = Seq(
      knModelArtifact(spark, dir)
        .select(lit(2).as("ord"), col("bg_fp").as("fp"), col("nll64")),
      kn3ModelArtifact(spark, dir)
        .select(lit(3).as("ord"), col("tg_fp").as("fp"), col("nll64")),
      kn4ModelArtifact(spark, dir)
        .select(lit(4).as("ord"), col("g_fp").as("fp"), col("nll64")),
      kn5ModelArtifact(spark, dir)
        .select(lit(5).as("ord"), col("g_fp").as("fp"), col("nll64"))
    ).reduce(_.unionByName(_))
    val grams = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        explode(
          concat((2 to 5).map(k =>
            transform(
              graft.functions.VectorExpressions
                .wordNgrams(tokens(lower(col("text"))), lit(k)),
              g =>
                struct(
                  lit(k).as("ord"),
                  conv(substring(md5(g), 1, 15), 16, 10).cast("bigint").as("fp")))): _*)
        ).as("kg"))
      .select(col("doc_id"), col("kg.ord").as("ord"), col("kg.fp").as("fp"))
    val aggs = (2 to 5).flatMap(k =>
      Seq(
        count(when(col("ord") === k, 1)).as(s"n$k"),
        sum(when(col("ord") === k, col("nll64"))).as(s"s$k")))
    val base = grams
      .join(models, Seq("ord", "fp"))
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n5") > 0)
      .join(
        Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select(
        col("doc_id"),
        col("source"),
        expr("s2 DIV n2").as("nll2"),
        expr("s3 DIV n3").as("nll3"),
        expr("s4 DIV n4").as("nll4"),
        expr("s5 DIV n5").as("nll5"))
    // gains computed INLINE off the wide per-source sums (round 11):
    // the former (source, ord−1) self-join re-executed the entire
    // corpus subtree twice — every mean is already in the wide frame,
    // so stack emits (ord, mean, gain) in one structural unpivot
    base
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nll2")).as("s2"),
        sum(col("nll3")).as("s3"),
        sum(col("nll4")).as("s4"),
        sum(col("nll5")).as("s5")
      )
      .selectExpr(
        "source",
        "n_docs",
        "stack(4," +
          " 2, s2 DIV n_docs, CAST(0 AS BIGINT)," +
          " 3, s3 DIV n_docs, s2 DIV n_docs - s3 DIV n_docs," +
          " 4, s4 DIV n_docs, s3 DIV n_docs - s4 DIV n_docs," +
          " 5, s5 DIV n_docs, s4 DIV n_docs - s5 DIV n_docs)" +
          " AS (ord, mean_nll64, gain64)"
      )
      .select(col("source"), col("ord").cast("bigint").as("ord"),
        col("n_docs"), col("mean_nll64"), col("gain64"))
  }

  /** Per-source LM ORDER GAIN: how much the trigram model's extra
    * context order buys over the bigram model, in mean 1/64-bit
    * log-perplexity — gain64 = mean₂(avg_nll64) − mean₃(avg_nll64)
    * over the docs BOTH models score (≥ 3 tokens). THE readout that
    * justifies (or kills) training the next LM order on a source:
    * structured text gains a lot from longer context; shuffled or
    * templated spam gains little (its trigrams carry no information
    * beyond their bigrams). Also the ppl-delta data-selection signal
    * (docs where a stronger model disagrees most with a weaker one).
    *
    * Pure COMPOSITION over the two memoized model scoring passes
    * ([[knDocPpl]] / [[kn3DocPpl]]) — one (doc_id)-keyed join of two
    * per-doc sheets, one #sources aggregate; no new corpus pass. Means
    * are exact floor-div integers; the gain is their difference
    * (means first, then subtract — the per-doc floors differ, so this
    * is the documented fold order the oracle replays).
    */
  def knOrderGain(spark: SparkSession, dir: String): DataFrame =
    knDocPpl(spark, dir)
      .select(col("doc_id"), col("source"), col("avg_nll64").as("nll2"))
      .join(
        kn3DocPpl(spark, dir)
          .filter(col("n_trigrams") > 0L)
          .select(col("doc_id"), col("avg_nll64").as("nll3")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nll2")).as("s2"),
        sum(col("nll3")).as("s3")
      )
      .select(
        col("source"),
        col("n_docs"),
        expr("s2 DIV n_docs").as("mean_nll64_bigram"),
        expr("s3 DIV n_docs").as("mean_nll64_trigram"),
        (expr("s2 DIV n_docs") - expr("s3 DIV n_docs")).as("order_gain64")
      )

  // ── DSIR importance resampling, end-to-end (round-9 cont.) ────────
  // Completes the round-5 `dsirImportance` bucket-ratio READOUT into
  // the full paper pipeline: per-bucket integer log-weights, per-doc
  // scores, and the stratified selection sheet.

  val DsirLambdaBuckets = 1024L
  val DsirTargetSource = "src0"
  /** Per-source keep fraction: rank·5 ≤ n ⇔ top ⌊n/5⌋ (20%). */
  val DsirKeepDiv = 5L

  /** Hashed n-gram stream for the DSIR feature space: word unigrams
    * AND bigrams (the paper's feature set), 60-bit md5 fingerprints
    * folded into [[DsirLambdaBuckets]] buckets — strings reduce to a
    * bucket id at the scan, so nothing wider than (doc_id, source,
    * bucket) ever shuffles.
    */
  private def dsirGrams(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        col("source"),
        explode(
          concat(toks, graft.functions.VectorExpressions.wordNgrams(toks, lit(2)))
        ).as("g")
      )
      .select(
        col("doc_id"),
        col("source"),
        pmod(
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("bigint"),
          lit(DsirLambdaBuckets)).as("bucket")
      )
  }

  /** DSIR importance-weight model (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): two bag-of-hashed-n-gram unigram
    * models — the TARGET distribution fit on the reference slice
    * ([[DsirTargetSource]], standing in for the paper's Wikipedia/
    * books target) and the RAW distribution fit on the whole pool —
    * and the per-bucket log importance ratio
    *
    *   λ_b = log₂ p̂_target(b) − log₂ p̂_raw(b)
    *
    * with add-1 smoothing over the [[DsirLambdaBuckets]]-bucket feature
    * space. EXACT in 1/64-bit units via the `c64_log2` codegen
    * kernel: lam64 = c64(t_b+1) − c64(T+NB) − c64(r_b+1) + c64(R+NB)
    * (T, R the two gram totals) — pure integer, so the oracle twin
    * reproduces it bit-for-bit through the same unrolled chain.
    *
    * Plan shape at 100 TB: ONE corpus pass collapses the gram stream
    * to the NB-bounded bucket table (map-side combined count +
    * conditional count — the target tally rides the same aggregate,
    * no second pass); totals fold over those 1024 rows; every bucket
    * row gets λ in one projection. The model is bucket-bounded by
    * construction — exactly what makes hashed DSIR run where a full
    * vocabulary model would not — and broadcasts to the scorer.
    */
  private[graft] def dsirLambda(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, dir, "dsir_lambda")(dsirLambdaBuild(spark, dir))

  private[graft] def dsirLambdaBuild(spark: SparkSession, dir: String): DataFrame = {
    val byBucket = dsirGrams(spark, dir)
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("r_cnt"),
        sum(when(col("source") === DsirTargetSource, 1L).otherwise(0L)).as("t_cnt")
      )
    val full = spark
      .range(DsirLambdaBuckets)
      .select(col("id").as("bucket"))
      .join(byBucket, Seq("bucket"), "left")
      .select(
        col("bucket"),
        coalesce(col("t_cnt"), lit(0L)).as("t_cnt"),
        coalesce(col("r_cnt"), lit(0L)).as("r_cnt")
      )
    val totals = full.agg(sum(col("t_cnt")).as("t_tot"), sum(col("r_cnt")).as("r_tot"))
    val c64 = graft.functions.VectorExpressions.c64Log2 _
    full
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        col("t_cnt"),
        col("r_cnt"),
        (c64(col("t_cnt") + 1) - c64(col("t_tot") + lit(DsirLambdaBuckets))
          - c64(col("r_cnt") + 1) + c64(col("r_tot") + lit(DsirLambdaBuckets))).as("lam64")
      )
  }

  /** The model's k-bounded readout: the 25 buckets most indicative of
    * the target (lam64 desc, bucket asc).
    */
  def dsirBucketModel(spark: SparkSession, dir: String): DataFrame =
    dsirLambda(spark, dir)
      .orderBy(col("lam64").desc, col("bucket").asc)
      .limit(25)

  /** Per-document DSIR importance score: score64 = Σ_grams λ_bucket —
    * the doc's log importance ratio under the two hashed models, in
    * 1/64-bit units (integer SUM, order-independent). Zero-gram docs
    * surface with zeros off the LEFT spine, never dropped. One corpus
    * gram pass joined to the BROADCAST 1024-row λ table — scoring is
    * scan-bound at any SF.
    */
  /** Round 11 (cont.): staged DURABLY once per (session, corpus) —
    * FIVE consumers (the score sheet itself, both selection policies,
    * the 2×2 policy agreement, the selector-agreement Spearman) each
    * re-ran the corpus gram pass + per-doc collapse. Guide-§8
    * "fingerprints only": 4 small columns per doc, corpus-co-scaled ⇒
    * durable parquet staging (the shingle_hashes class).
    */
  def dsirDocScores(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stage(spark, dir, "dsir_scores")(
      dsirDocScoresBuild(spark, dir))

  private[graft] def dsirDocScoresBuild(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = dsirGrams(spark, dir)
      .join(broadcast(dsirLambda(spark, dir).select(col("bucket"), col("lam64"))),
        Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lam64")).as("score64"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score64"), lit(0L)).as("score64")
      )
  }

  /** DSIR selection sheet: per source, keep the top ⌊n/5⌋ docs by
    * (score64 desc, doc_id asc) and report kept counts, kept-mass and
    * the acceptance threshold (min kept score). STRATIFIED per source
    * — a deliberate, documented deviation from the paper's single
    * global Gumbel top-k ([[dsirSelectGlobal]]): the per-source
    * ranking preserves the mixture's source balance, which the
    * downstream allocators (waterfill / DoReMi) own. Composition over
    * [[dsirDocScores]]: one grouped-RankOps pass, one fold. The
    * round-9 weak is closed: a `Window.partitionBy(source)` here
    * would sort the corpus in |sources| tasks (~17 TB/task at
    * 100 TB); [[RankOps.withGroupRankAndCount]]'s range-partitioned
    * composition ranks at full parallelism and delivers n_src off the
    * same ledger, bit-identical for this strict (score64 desc,
    * doc_id) order.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    RankOps
      .withGroupRankAndCount(
        dsirDocScores(spark, dir),
        Seq(col("source")),
        "rn",
        "n_src",
        Seq(col("score64").desc, col("doc_id").asc)
      )
      .withColumn("sel", col("rn") * DsirKeepDiv <= col("n_src"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("sel"), col("score64")).otherwise(0L)).as("kept_score64"),
        coalesce(min(when(col("sel"), col("score64"))), lit(0L)).as("threshold64")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_kept"),
        expr("CAST(CAST(n_kept AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
          .as("kept_ppm"),
        col("kept_score64"),
        col("threshold64")
      )
  }

  /** The md5-coin GUMBEL race key for the paper-faithful global
    * selection, in exact 1/64-bit units: Gumbel-top-k keeps the top k
    * of key_i = log₂ w_i + G_i with G_i = −log₂(−log₂ U_i) — a
    * weighted sample without replacement with P(i ∈ top-k) the
    * paper's importance-resampling inclusion law. Here log₂ w_i IS
    * score64 (already 64·log₂ units), U_i = (coin+1)/2⁶⁰ with coin
    * the doc's 60-bit md5 (the [[weightedSample]] determinism
    * discipline — any engine reproduces the draw), and both logs run
    * through the integer `c64_log2` kernel:
    * e64 = 3840 − c64(coin+1) (= ⌈−64·log₂U⌉ ≥ 0), g64 = 384 −
    * c64(max(e64, 1)) (= 64·(6 − log₂ e64), the max-clamp covers the
    * probability-2⁻⁶⁰ coin = 2⁶⁰−1 edge where e64 = 0). Base-2
    * everywhere: the race w_i/(−log₂U_i) differs from the classic
    * w_i/(−ln U_i) by the constant ln 2 in every denominator, which
    * cancels in the argmax law. Quantization to 1/64 bits makes
    * near-ties deterministic (broken by doc_id) — the documented
    * price of a bit-stable cross-engine draw.
    */
  private def dsirGumbelKeys(df: DataFrame): DataFrame = {
    val c64 = graft.functions.VectorExpressions.c64Log2 _
    df.withColumn(
        "coin",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint"))
      .withColumn("e64", lit(64L * 60) - c64(col("coin") + lit(1L)))
      .withColumn("g64", lit(64L * 6) - c64(greatest(col("e64"), lit(1L))))
      .withColumn("key64", col("score64") + col("g64"))
  }

  /** Paper-faithful DSIR selection: ONE global Gumbel top-⌊N/5⌋ over
    * the perturbed importance scores (Xie et al.'s resampling draw),
    * next to [[dsirSelect]]'s stratified sheet — the two selection
    * policies a pipeline owner weighs (global = exactly the paper's
    * inclusion law; stratified = source balance preserved). Per
    * source: docs, globally-kept count/ppm, kept importance mass, and
    * the source's min kept race key (0 when none kept).
    *
    * Scale: [[dsirDocScores]] is scan-bound; the perturbation is a
    * per-row map (c64 codegen); the GLOBAL ranking runs through
    * [[RankOps.withGroupRankAndCount]] with a constant group — the
    * range-partitioned composition, never a partition-less window —
    * and N rides the same ledger (no second corpus pass).
    */
  def dsirSelectGlobal(spark: SparkSession, dir: String): DataFrame = {
    RankOps
      .withGroupRankAndCount(
        dsirGumbelKeys(dsirDocScores(spark, dir)),
        Seq(lit(1)),
        "rn",
        "n_all",
        Seq(col("key64").desc, col("doc_id").asc)
      )
      .withColumn("sel", col("rn") * DsirKeepDiv <= col("n_all"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("sel"), col("score64")).otherwise(0L)).as("kept_score64"),
        coalesce(min(when(col("sel"), col("key64"))), lit(0L)).as("min_kept_key64")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_kept"),
        expr("CAST(CAST(n_kept AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
          .as("kept_ppm"),
        col("kept_score64"),
        col("min_kept_key64")
      )
  }

  /** The 2x2 agreement sheet between the two DSIR selection policies
    * — per source, how many docs the global Gumbel draw and the
    * stratified top-20% both keep / each keeps alone / neither keeps.
    * THE readout for "does stratification actually change the
    * selection here, and where": a source whose global-only column is
    * large is being over-sampled by the raw importance mass relative
    * to its quota. Composition: one scored frame, one grouped ranking
    * per policy (both RankOps compositions), one #sources aggregate.
    */
  def dsirSelectAgreement(spark: SparkSession, dir: String): DataFrame = {
    val strat = RankOps
      .withGroupRankAndCount(
        dsirGumbelKeys(dsirDocScores(spark, dir)),
        Seq(col("source")),
        "rn_s",
        "n_src",
        Seq(col("score64").desc, col("doc_id").asc)
      )
      .withColumn("sel_s", col("rn_s") * DsirKeepDiv <= col("n_src"))
    RankOps
      .withGroupRankAndCount(
        strat,
        Seq(lit(1)),
        "rn_g",
        "n_all",
        Seq(col("key64").desc, col("doc_id").asc)
      )
      .withColumn("sel_g", col("rn_g") * DsirKeepDiv <= col("n_all"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sel_g") && col("sel_s"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("sel_g") && !col("sel_s"), 1L).otherwise(0L)).as("n_global_only"),
        sum(when(!col("sel_g") && col("sel_s"), 1L).otherwise(0L)).as("n_strat_only"),
        sum(when(!col("sel_g") && !col("sel_s"), 1L).otherwise(0L)).as("n_neither")
      )
  }

  // ── Exact integer token entropy (the c64 upgrade) ─────────────────

  /** Low-entropy threshold: 2 bits (128 in 1/64-bit units) — below it
    * a doc's token stream is dominated by ≤ ~4 effective types, the
    * repetition-spam signature.
    */
  val LowEntropyH64 = 128L

  /** Per-source token-entropy gate — the repetition/template-spam
    * filter a cleaning pipeline runs next to the Gopher rules. Per
    * doc, Shannon entropy of the token distribution in EXACT 1/64-bit
    * units: H64 = c64(n) − ⌊Σ_t c_t·c64(c_t) / n⌋ (from
    * H = log₂n − (1/n)Σc·log₂c), evaluated entirely through the
    * `c64_log2` codegen kernel. [[hapaxRatio]]'s scaladoc records WHY
    * entropy was deliberately absent until now — libm log() differs in
    * the last ulp across engines, so no bit-stable cross-engine
    * entropy existed; the integer c64 log closes exactly that gap
    * (both engines take the same quantized logs and the same floor).
    * Sheet: per source, doc count, mean H64 and the ppm of docs under
    * [[LowEntropyH64]]; zero-token docs surface with H64 = 0 (counted
    * low — a blank doc IS degenerate).
    *
    * Scale: one (doc, token) collapse (the wordCount shuffle with
    * doc_id in the key), one doc-keyed fold, one #sources aggregate.
    */
  def tokenEntropyGate(spark: SparkSession, dir: String): DataFrame = {
    val c64 = graft.functions.VectorExpressions.c64Log2 _
    val perDoc = Tables
      .documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"), explode(tokens(lower(col("text")))).as("t"))
      .groupBy(col("doc_id"), col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        sum(col("c") * c64(col("c"))).as("s64")
      )
      .select(
        col("doc_id"),
        col("source"),
        col("n_tokens"),
        (c64(col("n_tokens")) - expr("s64 DIV n_tokens")).as("h64")
      )
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(perDoc.select(col("doc_id"), col("n_tokens"), col("h64")), Seq("doc_id"), "left")
      .select(
        col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("h64"), lit(0L)).as("h64")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("h64")).as("sum_h64"),
        sum(when(col("h64") < LowEntropyH64, 1L).otherwise(0L)).as("n_low")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("sum_h64"),
        expr("sum_h64 DIV n_docs").as("mean_h64"),
        col("n_low"),
        expr("CAST(CAST(n_low AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
          .as("low_ppm")
      )
  }

  // ── Selector agreement (Spearman between the quality orderings) ───

  /** Pairwise rank agreement of the session's three document
    * selectors — DSIR importance ([[dsirDocScores]], higher = more
    * target-like), the hashgram quality classifier (higher = keep),
    * and trigram-KN typicality ([[kn3DocPpl]], LOWER avg_nll64 =
    * more typical) — THE sheet a pipeline owner reads before stacking
    * filters: selectors that agree are redundant, selectors that
    * anti-agree are fighting. Per source, Spearman ρ over tie-broken
    * keep-priority ranks (each ordering breaks ties by doc_id, so
    * ranks are exact permutations), reported on the [0, 10⁶] scale
    * agreement_ppm = ⌊(1+ρ)/2 · 10⁶⌋ = ⌊(2D − 6Σd²)·10⁶ / (2D)⌋ with
    * D = n³−n — nonnegative because Σd² ≤ (n³−n)/3 (the exact
    * maximum, attained by full inversion), so 6Σd² ≤ 2D and
    * truncation IS floor on both engines; 10⁶ = identical
    * orderings, 0 = exact inversion, 5·10⁵ = unrelated. All products
    * run in DECIMAL(38,0)/HUGEINT (d² alone reaches n² ≈ 10²⁰ at a
    * 10¹⁰-doc source).
    *
    * Scale: the three per-doc score sheets join on doc_id (each is
    * one corpus pass or a memoized artifact read), three
    * grouped-RankOps passes (round 10 — each a range-partitioned
    * full-parallelism sort, never |sources| sort tasks; bit-identical
    * to the source-keyed windows for these strict orders), ONE
    * aggregate computing all three Σd² (no per-pair corpus re-scan),
    * then a 3-way unpivot of the #sources-bounded frame — STRUCTURAL
    * via `stack`, one scan of the aggregated frame by plan, not by
    * exchange-reuse luck.
    */
  def selectorAgreement(spark: SparkSession, dir: String): DataFrame = {
    val d = dsirDocScores(spark, dir).select(col("doc_id"), col("source"), col("score64"))
    val h = hashgramGateProjection(Tables.documents(spark, dir))
      .select(col("doc_id"), col("score"))
    val p = kn3DocPpl(spark, dir).select(col("doc_id"), col("avg_nll64"))
    val joined = d
      .join(h, Seq("doc_id"))
      .join(p, Seq("doc_id"))
    val ranked = RankOps
      .withGroupRank(
        RankOps.withGroupRank(
          RankOps.withGroupRank(
            joined,
            Seq(col("source")),
            "rd",
            Seq(col("score64").desc, col("doc_id").asc)
          ),
          Seq(col("source")),
          "rh",
          Seq(col("score").desc, col("doc_id").asc)
        ),
        Seq(col("source")),
        "rp",
        Seq(col("avg_nll64").asc, col("doc_id").asc)
      )
      .select(col("source"), col("rd"), col("rh"), col("rp"))
    def d2(a: String, b: String) =
      sum(expr(s"CAST($a - $b AS DECIMAL(38,0)) * CAST($a - $b AS DECIMAL(38,0))"))
    val agg = ranked
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        d2("rd", "rh").as("s_dh"),
        d2("rd", "rp").as("s_dp"),
        d2("rh", "rp").as("s_hp")
      )
    agg
      .selectExpr(
        "source",
        "n_docs",
        "stack(3, 'dsir~hashgram', s_dh, 'dsir~ppl', s_dp, 'hashgram~ppl', s_hp)" +
          " AS (pair, s)"
      )
      .select(
        col("source"),
        col("pair"),
        col("n_docs"),
        expr(
          """CAST(CASE WHEN n_docs < 2 THEN 1000000 ELSE
            | (2 * (CAST(n_docs AS DECIMAL(38,0)) * n_docs * n_docs - n_docs) - 6 * s)
            |  * 1000000
            |  DIV (2 * (CAST(n_docs AS DECIMAL(38,0)) * n_docs * n_docs - n_docs))
            |END AS BIGINT)""".stripMargin
        ).as("agreement_ppm")
      )
  }
}
