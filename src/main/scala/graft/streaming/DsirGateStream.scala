package graft.streaming

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming DSIR importance scorer AT INGEST — the online twin of the
  * batch `dsir_doc_scores` sheet: every arriving document gets its
  * hashed-n-gram importance score (Σ per-bucket λ, the Xie et al.
  * 2023 log ratio) the moment it lands, so an importance-resampling
  * pass can route or down-sample pages before anything else touches
  * them.
  *
  * Architecture: a stateless [[IngestEdge]] scoring each row against a
  * BROADCAST model, like [[PplGateStream]] — but where the KN gate
  * needed a cap and a loud failure (its reference model is bounded
  * only by CONTRACT), the DSIR λ table is bounded by CONSTRUCTION:
  * exactly [[graft.operators.TextOps.DsirLambdaBuckets]] rows
  * regardless of corpus size, so the collect is safe at any SF and the
  * broadcast is a dense Long array indexed by bucket. Each row folds its own
  * unigram+bigram 60-bit fingerprints (the codegen `shingle_hashes`
  * kernel at widths 1 and 2 — md5 of the same strings the batch side
  * hashes, so buckets are bit-identical) against the array; at 100 TB
  * the stream scales as scan-bound ingest with a 1024-entry broadcast.
  */
object DsirGateStream {

  final case class DsirRow(
      doc_id: Long,
      source: String,
      n_grams: Long,
      score64: Long
  )

  /** The bucket→λ model as a dense array (the batch `dsir_lambda`
    * artifact, collected — 1024 rows by construction).
    */
  private[graft] def lambdaIndex(spark: SparkSession, refDir: String): Array[Long] = {
    val nb = graft.operators.TextOps.DsirLambdaBuckets.toInt
    val out = new Array[Long](nb)
    graft.operators.TextOps
      .dsirLambda(spark, refDir)
      .select(col("bucket"), col("lam64"))
      .collect()
      .foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
    out
  }

  /** The hashed w-grams of the lowercase tokens of `text`: the codegen
    * `shingle_hashes` kernel, empty rather than null when `text` is
    * null, so such a row folds to the batch fold over no grams.
    */
  private[graft] def textShingles(w: Int): Column = coalesce(
    graft.functions.VectorExpressions
      .shingleHashes(graft.operators.TextOps.tokens(lower(col("text"))), lit(w)),
    expr("CAST(array() AS array<bigint>)"))

  /** Per-arriving-doc importance rows over a directory of document
    * parquet files (each file = one ingest micro-batch); the model
    * fits on `refDir`'s canonical table.
    */
  def scored(spark: SparkSession, streamDir: String, refDir: String): Dataset[DsirRow] = {
    import spark.implicits._
    val nb = graft.operators.TextOps.DsirLambdaBuckets
    val bc = spark.sparkContext.broadcast(lambdaIndex(spark, refDir))
    IngestEdge
      .docs(spark, streamDir)
      .select(
        col("doc_id"),
        col("source"),
        concat(textShingles(1), textShingles(2)).as("fps")
      )
      .as[(Long, String, Array[Long])]
      .map { case (id, src, fps) =>
        val lam = bc.value
        var s = 0L
        fps.foreach(f => s += lam((f % nb).toInt))
        DsirRow(id, src, fps.length.toLong, s)
      }
  }
}
