package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Sketches as STREAMING aggregation state: the SpaceSaving
  * heavy-hitter aggregate (functions/SpaceSaving.scala) running inside
  * a streaming groupBy — per group key the state store holds one
  * serialized sketch buffer, each micro-batch folds its rows in via
  * `update` and the store's previous buffer via `merge` (the same
  * mergeable-summary rule the batch partial/final split uses, so
  * batch == streaming by construction, proven in StreamingSpec).
  *
  * This is the ingest-time analytics shape at 100 TB/day: bounded
  * O(capacity) state per key regardless of token cardinality, emitting
  * the current top list every trigger — where the exact streaming
  * form (groupBy(token).count) would grow state with the distinct
  * vocabulary forever.
  */
object SketchStream {

  /** Current per-language heavy-hitter sketch over the arriving
    * corpus, one row per language per trigger (Complete mode).
    */
  def heavyHittersByLang(spark: SparkSession, dir: String, capacity: Int): DataFrame = {
    spark.readStream
      .schema(DedupStream.docsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .select(col("lang"), explode(TextOps.tokens(lower(col("text")))).as("token"))
      .groupBy(col("lang"))
      .agg(graft.functions.SpaceSaving.spaceSaving(col("token"), lit(capacity)).as("sk"))
  }

  /** The batch twin: identical expression tree over the same file
    * listing (schema-pinned batch read of the stream's directory).
    */
  def heavyHittersByLangBatch(spark: SparkSession, dir: String, capacity: Int): DataFrame = {
    spark.read
      .schema(DedupStream.docsSchema)
      .parquet(dir)
      .select(col("lang"), explode(TextOps.tokens(lower(col("text")))).as("token"))
      .groupBy(col("lang"))
      .agg(graft.functions.SpaceSaving.spaceSaving(col("token"), lit(capacity)).as("sk"))
  }
}
