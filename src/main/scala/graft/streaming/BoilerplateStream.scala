package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming line-level boilerplate removal AT INGEST — the online
  * twin of the batch `boilerplate_rewrite` gate
  * (`TextOps.boilerplateRewrite`): every arriving document is rebuilt
  * with its corpus-boilerplate lines (exact lines shared by ≥
  * `TextOps.BoilerDf` documents) dropped the moment it lands —
  * filter-before-persist, the CCNet/RefinedWeb line-dedup pass moved
  * to the ingest edge.
  *
  * Architecture: a stateless [[IngestEdge]] with one broadcast side.
  * The boilerplate side is BOUNDED by construction — lines with
  * doc-frequency ≥ the threshold number at most n_lines/threshold and
  * in practice count the corpus's distinct TEMPLATES — so the full
  * line SET is collected once from the canonical corpus and broadcast,
  * and the stream scales with a template-sized broadcast.
  *
  * The static side matches on line STRINGS (the batch path's 60-bit
  * line hashes never leave its own plan), so StreamingSpec's
  * streamed == batch equality doubles as a hash-collision check on
  * the batch side.
  */
object BoilerplateStream {

  final case class BoilerRow(
      doc_id: Long,
      n_lines: Long,
      n_dropped: Long,
      clean_text: String
  )

  /** The bounded boilerplate set: exact line strings of `docs`
    * (`doc_id`, `text`) with doc-frequency ≥ the shared threshold.
    */
  private[graft] def boilerLineSet(docs: DataFrame): Set[String] =
    docs
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= graft.operators.TextOps.BoilerDf)
      .select(col("line"))
      .collect()
      .map(_.getString(0))
      .toSet

  /** One document with the lines in `boiler` dropped. */
  private[graft] def dropLines(id: Long, text: String, boiler: Set[String]): BoilerRow = {
    val ls = text.split("\n", -1)
    val kept = ls.filter(l => !boiler.contains(l))
    BoilerRow(id, ls.length.toLong, (ls.length - kept.length).toLong, kept.mkString("\n"))
  }

  /** Cleaned documents over a directory of document parquet files
    * (each file = one ingest micro-batch); the boilerplate set comes
    * from `corpusDir`'s canonical table. One injection definition,
    * two transports: the stream shares `TextOps.boilerplateInjectExpr`
    * with the batch gate, so the two cannot drift.
    */
  def cleaned(
      spark: SparkSession,
      streamDir: String,
      corpusDir: String
  ): Dataset[BoilerRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      boilerLineSet(graft.operators.TextOps.boilerplateDocs(spark, corpusDir)))
    IngestEdge
      .docs(spark, streamDir)
      .select(
        col("doc_id"),
        graft.operators.TextOps.boilerplateInjectExpr.as("text")
      )
      .as[(Long, String)]
      .map { case (id, text) => dropLines(id, text, bc.value) }
  }
}
