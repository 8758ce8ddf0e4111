package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash near-dup discovery AT INGEST — the banded-MinHash
  * twin of [[NearDupStream]] (which streams the SimHash family) and
  * the online counterpart of the batch pair ARTIFACT
  * (`DedupOps.minhashLsh`): each arriving document is signed with the
  * SAME zero-shuffle `minhash_sigs` codegen kernel the batch scan
  * maps (12 permutation mins over distinct 3-token shingle hashes),
  * banded into 4 × 3-row bucket keys exactly like the batch
  * `minhashBandArray`, and exact-Jaccard-verified (≥ 0.7, the batch
  * threshold) against every earlier document sharing a band bucket —
  * verified pairs emit the moment the second member lands. One
  * definition of signature, banding, AND verification; two
  * transports.
  *
  * State shape: one (doc_id, distinct-shingle-hash set) list per
  * OCCUPIED band bucket. Candidate volume is the batch band join's
  * bound (Σ over buckets of occupancy²); per-doc state is the doc's
  * own distinct 60-bit shingle hashes (n_tokens-bounded — hashes,
  * never shingle strings), which is what makes the edge verification
  * EXACT rather than signature-estimated: the emitted jaccard is the
  * same long-ratio IEEE division as the batch verify join, so the
  * pair sets are comparable value-for-value. Re-delivered doc_ids
  * are ignored (at-least-once source safety); intra-batch arrivals
  * pair in doc_id order so the emitted SET is independent of how the
  * log is sliced into micro-batches — proven against the batch
  * artifact in StreamingSpec.
  *
  * Pairs may repeat across bands (exactly like the batch candidate
  * join before its dropDuplicates); consumers take the distinct set.
  */
object MinHashDupStream {

  final case class Banded(band_idx: Int, band_hash: String, doc_id: Long, hs: Array[Long])

  final case class BucketState(docs: List[(Long, Array[Long])])

  final case class NearPair(doc_a: Long, doc_b: Long, jaccard: Double)

  val JaccardMin = 0.7

  /** Exact Jaccard over two distinct-hash sets — the batch verify
    * join's n_shared / (na + nb − n_shared) on the same longs.
    */
  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val (small, big) = if (a.length <= b.length) (a, b) else (b, a)
    val set = new java.util.HashSet[Long](small.length * 2)
    small.foreach(set.add)
    var shared = 0L
    big.foreach(h => if (set.contains(h)) shared += 1)
    shared.toDouble / (a.length.toLong + b.length.toLong - shared).toDouble
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
        for ((id, hs) <- seen) {
          val j = jaccard(r.hs, hs)
          if (j >= JaccardMin)
            out += NearPair(math.min(id, r.doc_id), math.max(id, r.doc_id), j)
        }
        seen = (r.doc_id, r.hs) :: seen
      }
    }
    state.update(BucketState(seen))
    out.result().iterator
  }

  /** Verified near-dup pairs over a directory of document parquet
    * files (each file = one ingest micro-batch).
    */
  def pairs(spark: SparkSession, dir: String): Dataset[NearPair] = {
    import spark.implicits._
    val toks = graft.operators.TextOps.tokens(lower(col("text")))
    val bandArray = array((0 until graft.operators.DedupOps.MinhashBands).map { b =>
      concat_ws(",",
        col("s").getItem(b * 3), col("s").getItem(b * 3 + 1), col("s").getItem(b * 3 + 2))
    }: _*)
    IngestEdge
      .docs(spark, dir)
      .select(
        col("doc_id"),
        graft.functions.VectorExpressions.minhashSigs(toks, lit(3)).as("s"),
        array_distinct(
          graft.functions.VectorExpressions.shingleHashes(toks, lit(3))
        ).as("hs")
      )
      .filter(col("s").isNotNull) // docs under 3 tokens have no signature
      .select(
        col("doc_id"),
        col("hs"),
        posexplode(bandArray).as(Seq("band_idx", "band_hash"))
      )
      .select(
        col("band_idx").cast("int").as("band_idx"),
        col("band_hash"),
        col("doc_id"),
        col("hs")
      )
      .as[Banded]
      .groupByKey(r => (r.band_idx, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
  }
}
