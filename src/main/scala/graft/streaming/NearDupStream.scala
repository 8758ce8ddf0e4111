package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-dup discovery AT INGEST — the online twin of the
  * batch `simhash_pairs` artifact (`DedupOps.simhashPairs`): each
  * arriving document is fingerprinted (SimHash-64, the SAME ±1
  * md5-bit construction as the batch aggregate — summing per
  * occurrence with weight 1 equals the batch's per-distinct-token
  * count weighting, integer addition being order-free), banded into
  * 4×16-bit chunks, and checked against every earlier document
  * sharing a band bucket; verified pairs (hamming ≤ 10) emit the
  * moment the second document lands. A pipeline running this at the
  * ingest edge never admits a near-duplicate downstream — the
  * streaming counterpart of "materialize the pair graph once per
  * ingest batch".
  *
  * State shape: one (doc_id, simhash) list per OCCUPIED band bucket —
  * exactly the candidate bound of the batch band join (Σ over buckets
  * of occupancy², with band width the skew/occupancy lever at
  * 100 TB); the state store distributes buckets by key. Re-delivered
  * doc_ids are ignored (at-least-once source safety). Intra-batch
  * arrivals pair against both the stored bucket AND earlier rows of
  * the same batch, in doc_id order, so the emitted SET is independent
  * of how the log is sliced into micro-batches (the ChunkStream
  * promise transplanted to dedup) — proven against the batch artifact
  * in StreamingSpec.
  *
  * The per-row fingerprint is the SAME codegen `simhash64` kernel the
  * batch path maps over its scan — one definition of the fingerprint,
  * two transports.
  */
object NearDupStream {

  final case class Banded(band_idx: Int, band_bits: String, doc_id: Long, simhash: String)

  final case class BucketState(docs: List[(Long, String)])

  final case class NearPair(doc_a: Long, doc_b: Long, hamming: Long)

  val HammingMax = 10L

  private def hamming(a: String, b: String): Long = {
    var d = 0L
    var i = 0
    while (i < a.length) { if (a.charAt(i) != b.charAt(i)) d += 1; i += 1 }
    d
  }

  private def fold(
      key: (Int, String),
      rows: Iterator[Banded],
      state: GroupState[BucketState]
  ): Iterator[NearPair] = {
    var seen = state.getOption.map(_.docs).getOrElse(Nil)
    val out = Seq.newBuilder[NearPair]
    // doc_id order: the emitted set must not depend on intra-batch row
    // order (the source's log contract only orders across batches)
    for (r <- rows.toSeq.sortBy(_.doc_id)) {
      if (!seen.exists(_._1 == r.doc_id)) { // at-least-once re-delivery guard
        for ((id, sim) <- seen) {
          val h = hamming(r.simhash, sim)
          if (h <= HammingMax)
            out += NearPair(math.min(id, r.doc_id), math.max(id, r.doc_id), h)
        }
        seen = (r.doc_id, r.simhash) :: seen
      }
    }
    state.update(BucketState(seen))
    out.result().iterator
  }

  /** Verified near-dup pairs over a directory of document parquet
    * files (each file = one ingest micro-batch). Pairs may repeat
    * across bands (exactly like the batch candidate join before its
    * dropDuplicates); consumers take the distinct set.
    */
  def pairs(spark: SparkSession, dir: String): Dataset[NearPair] = {
    import spark.implicits._
    val toks = graft.operators.TextOps.tokens(lower(col("text")))
    IngestEdge
      .docs(spark, dir)
      .filter(size(toks) > 0) // token-less docs have no batch fingerprint
      .select(
        col("doc_id"),
        graft.functions.VectorExpressions.simhash64(toks).as("simhash")
      )
      .select(
        col("doc_id"),
        col("simhash"),
        posexplode(
          transform(sequence(lit(0), lit(3)), b => col("simhash").substr(b * 16 + 1, lit(16)))
        ).as(Seq("band_idx", "band_bits"))
      )
      .select(col("band_idx").cast("int").as("band_idx"), col("band_bits"),
        col("doc_id"), col("simhash"))
      .as[Banded]
      .groupByKey(r => (r.band_idx, r.band_bits))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
  }
}
