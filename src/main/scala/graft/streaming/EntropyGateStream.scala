package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming token-entropy gate AT INGEST — the online twin of the
  * batch `token_entropy_gate` sheet's per-doc fold: every arriving
  * document gets its exact 1/64-bit Shannon entropy
  * (H64 = c64(n) − ⌊Σc·c64(c)/n⌋, the [[graft.operators.TextOps
  * .tokenEntropyGate]] arithmetic) and a low-entropy flag the moment
  * it lands — the repetition/template-spam filter running
  * score-before-persist, beside the Gopher and classifier gates of
  * [[IngestEdge.projections]] in the ingest gate rack.
  *
  * Architecture: a stateless [[IngestEdge]] with no broadcast (the
  * only "model" is the integer c64 log, a pure function). The per-row
  * fold counts token types in a local hash map and applies the same
  * quantized logs the batch side evaluates through the `c64_log2`
  * kernel, so emitted rows equal the batch per-doc frame bit-for-bit.
  */
object EntropyGateStream {

  final case class EntropyRow(
      doc_id: Long,
      source: String,
      n_tokens: Long,
      h64: Long,
      low: Boolean
  )

  /** The shared per-doc fold — one definition for the stream and the
    * spec's recompute.
    */
  private[graft] def h64Of(toks: Seq[String]): Long =
    if (toks.isEmpty) 0L
    else {
      val counts = new scala.collection.mutable.HashMap[String, Long]()
      toks.foreach(t => counts.update(t, counts.getOrElse(t, 0L) + 1L))
      val n = toks.length.toLong
      var s = 0L
      counts.valuesIterator.foreach(c => s += c * graft.operators.TextOps.c64(c))
      graft.operators.TextOps.c64(n) - s / n
    }

  /** Per-arriving-doc entropy rows over a directory of document
    * parquet files (each file = one ingest micro-batch).
    */
  def scored(spark: SparkSession, dir: String): Dataset[EntropyRow] = {
    import spark.implicits._
    val toks = graft.operators.TextOps.tokens(lower(col("text")))
    val low = graft.operators.TextOps.LowEntropyH64
    IngestEdge
      .docs(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("toks"))
      .as[(Long, String, Seq[String])]
      .map { case (id, src, t) =>
        val h = h64Of(t)
        EntropyRow(id, src, t.length.toLong, h, h < low)
      }
  }
}
