package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming benchmark decontamination AT INGEST — the online twin of
  * the batch `decontaminate` gate (`DedupOps.decontaminate`): every
  * arriving TRAIN document is checked against the static benchmark
  * n-gram index the moment it lands, and emits its leak report
  * (distinct leaked 8-grams, distinct benchmark docs touched, first
  * benchmark doc) iff it is contaminated. A pipeline running this at
  * the ingest edge quarantines eval-contaminated documents before
  * they ever reach a training shard — the streaming counterpart of
  * "run the decontamination pass before every training dump".
  *
  * Architecture: a stateless [[IngestEdge]] enriched from a static
  * side, not a stateful join — the benchmark side is BOUNDED by
  * contract (thousands of eval docs; the same argument
  * `decontaminateBloom` makes for its few-MB bloom), so its full
  * hash→doc index is collected once at stream build and broadcast.
  * Each document row carries its whole shingle-hash array (the same
  * codegen `shingle_hashes` kernel + row-local distinct as the batch
  * posting — one definition of the n-gram stream, two transports), so
  * the per-row report reads only the row and the broadcast index, and
  * at 100 TB the stream scales as a pure map over ingest with a
  * benchmark-sized broadcast.
  *
  * Unlike the batch path (whose train/test sides both come from the
  * corpus split), the stream reads the benchmark index from the SAME
  * split of the same directory — so StreamingSpec can assert
  * streamed == batch row-for-row.
  */
object DecontamStream {

  final case class LeakRow(
      train_doc: Long,
      n_leaked_ngrams: Long,
      n_test_docs: Long,
      first_test_doc: Long
  )

  /** The bounded benchmark index: shingle hash → sorted distinct
    * benchmark doc ids (batch `decontamPosting`'s test side, exactly).
    */
  private[graft] def benchmarkIndex(spark: SparkSession, dir: String): Map[Long, Array[Long]] =
    graft.operators.DedupOps
      .decontamPosting(spark, dir)
      .filter(col("split") === "test")
      .select(col("h"), col("doc_id"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (h, rows) => h -> rows.map(_.getLong(1)).distinct.sorted }

  /** Per-arriving-train-doc leak reports over a directory of document
    * parquet files (each file = one ingest micro-batch); the
    * benchmark index is built from `benchDir`'s canonical table (the
    * external eval suite in production). Clean docs emit nothing; the
    * emitted set equals the batch `decontaminate` report regardless
    * of slicing.
    */
  def flags(spark: SparkSession, streamDir: String, benchDir: String): Dataset[LeakRow] = {
    import spark.implicits._
    val idx = benchmarkIndex(spark, benchDir)
    val bc = spark.sparkContext.broadcast(idx)
    val toks = graft.operators.TextOps.tokens(lower(col("text")))
    IngestEdge
      .docs(spark, streamDir)
      .filter(graft.operators.TextOps.splitExpr(col("doc_id")) === "train")
      .select(
        col("doc_id"),
        array_distinct(
          graft.functions.VectorExpressions
            .shingleHashes(toks, lit(graft.operators.DedupOps.DecontamN))
        ).as("hs")
      )
      .as[(Long, Array[Long])]
      .flatMap { case (id, hs) =>
        val index = bc.value
        val leaked = hs.filter(index.contains) // hs is already distinct
        if (leaked.isEmpty) None
        else {
          val testDocs = leaked.flatMap(index).distinct
          Some(LeakRow(id, leaked.length.toLong, testDocs.length.toLong, testDocs.min))
        }
      }
  }
}
