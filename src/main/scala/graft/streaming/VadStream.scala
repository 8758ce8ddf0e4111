package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming voice-activity gate AT INGEST — the online twin of the
  * audio VAD pass (`MultimodalOps.mmAudioVad`, gate query
  * `mm_audio_vad`) and the streaming family's first MULTIMODAL edge
  * component: every arriving clip is windowed, energy-scored, and
  * activity-gated the moment it lands, so dead-air media can be
  * trimmed or dropped before it costs storage or any downstream
  * fingerprint/cluster work — exactly where an audio curation
  * pipeline runs its silence cut at 100 TB.
  *
  * Architecture: a pure per-row MAP — no state store, no watermark,
  * no shuffle, no broadcast. The window sums are the codegen
  * `ascii_window_sums` kernel and the activity cut + run-length fold
  * are row-local integer arithmetic over the bounded per-media array,
  * so rows equal the batch projection under ANY micro-batch slicing
  * trivially.
  *
  * One definition, two transports: the gate is
  * `MultimodalOps.vadProjection` — the SAME Columns the batch side
  * plans — so the stream cannot drift from the sheet the DuckDB
  * oracle verifies (StreamingSpec asserts row-for-row equality under
  * slicing).
  */
object VadStream {

  /** Activity-gated media over a directory of document parquet files
    * (each file = one ingest micro-batch).
    */
  def gated(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.readStream
      .schema(DedupStream.docsSchema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    graft.sources.MultimodalOps.vadProjection(raw)
  }
}
