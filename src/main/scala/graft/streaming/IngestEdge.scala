package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.MultimodalOps

/** The stateless ingest edge: the streaming form of a map-only job.
  * Documents arrive as parquet files in a directory, each file one
  * micro-batch, and an edge applies a batch gate's row-local
  * projection to every document the moment it lands, so a page is
  * scored, gated or rewritten before it costs downstream work.
  *
  * Why a streamed edge equals its batch gate: the projection reads
  * nothing but the row in hand and side tables built once before the
  * stream starts (a broadcast index or model). It has no state store,
  * no watermark and no shuffle. Replaying such a projection over any
  * slicing of the documents into micro-batches therefore emits exactly
  * the rows the batch projection emits over the whole table, and the
  * stream scales as scan-bound ingest. Sharing the batch side's
  * Columns (one definition, two transports) keeps the stream from
  * drifting from the sheet the DuckDB oracle verifies; StreamingSpec
  * checks each edge row-for-row under slicing.
  */
object IngestEdge {

  /** The document stream over `dir`: every `*.parquet` file in it, in
    * the documents schema (TESTDATA.md), one file per micro-batch.
    */
  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(DedupStream.docsSchema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** The edges that are nothing but a batch gate's projection, by
    * name. Each maps the documents schema to its gate's rows; the
    * Gopher and PII entries first apply the gate's own injection
    * expression, as the batch side does.
    */
  val projections: Map[String, DataFrame => DataFrame] = Map(
    "fim" -> TextOps.fimProjection,
    "sft" -> TextOps.sftRenderProjection,
    "dpo" -> TextOps.dpoPairProjection,
    "score" -> TextOps.hashgramGateProjection,
    "vad" -> MultimodalOps.vadProjection,
    "gopher" -> (d => TextOps.gopherRuleProjection(
      d.select(col("doc_id"), col("source"), TextOps.gopherInjectExpr.as("text")))),
    "pii" -> (d => TextOps.piiRedactProjection(
      d.select(col("doc_id"), TextOps.piiInjectExpr.as("text"))))
  )
}
