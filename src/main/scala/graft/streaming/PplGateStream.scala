package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming KN-perplexity scorer AT INGEST — the online twin of the
  * batch `kn_doc_ppl` scorer: every arriving document is scored
  * against a Kneser-Ney bigram model the moment it lands, emitting
  * the same (n_bigrams, sum_nll64, avg_nll64) row the batch sheet
  * carries. This is the execution shape of CCNet's perplexity filter
  * at the ingest edge: score-before-persist, then route by
  * head/middle/tail downstream.
  *
  * Architecture: a stateless [[IngestEdge]] scoring each row against
  * a BOUNDED broadcast model — the gate model trains on a REFERENCE
  * corpus snapshot (CCNet trains its KenLM on Wikipedia, not on the
  * crawl being filtered), so the model is bounded by contract and its
  * fp→nll64 map is collected once at stream build and broadcast: the
  * same boundedness argument [[DecontamStream]] makes for its
  * benchmark index. Each row folds its own bigram fingerprints (the
  * codegen `shingle_hashes` kernel at width 2 — bit-identical to the
  * batch side's md5 bg_fp) against the map; at 100 TB the stream
  * scales as scan-bound ingest with a reference-model-sized broadcast.
  *
  * Bigrams absent from the model are skipped, exactly as the batch
  * side's inner model join skips them; when the stream reads the
  * reference corpus itself (the spec's setup), every bigram hits.
  */
object PplGateStream {

  final case class PplRow(
      doc_id: Long,
      source: String,
      n_bigrams: Long,
      sum_nll64: Long,
      avg_nll64: Long
  )

  /** Hard cap on the collected reference model. "The gate LM trains on
    * a bounded reference snapshot" is a CONTRACT, not a law of nature —
    * a deployment that points refDir at a crawl-sized corpus would
    * otherwise OOM the driver silently mid-collect. The cap must
    * surface as a LOUD failure naming the knob (the
    * [[AnonStream.DefaultMaxUsersPerClass]] discipline): default 5M
    * bigram types ≈ 80 MB of broadcast, conf-overridable via
    * `spark.graft.pplgate.maxModelEntries`.
    */
  val DefaultMaxModelEntries = 5000000L

  /** The bounded reference model: bigram fingerprint → nll64 (the
    * batch `kn_model` artifact, collected). The collect itself is
    * LIMIT-bounded to cap+1 rows — an over-cap model never transfers
    * more than one row past the cap before the loud failure. A
    * duplicate fingerprint with a DIFFERENT score is a 60-bit md5
    * collision of two distinct bigrams (expected only near the
    * ~n²/2⁶¹ birthday envelope, i.e. ~10¹⁰ types) — also loud, since
    * silently keeping either score breaks stream/batch parity.
    */
  private[graft] def modelIndex(
      spark: SparkSession, refDir: String): scala.collection.Map[Long, Long] = {
    val key = "spark.graft.pplgate.maxModelEntries"
    val conf = spark.conf.get(key, DefaultMaxModelEntries.toString)
    val cap = conf.toLongOption.getOrElse(
      throw new IllegalArgumentException(s"$key must be an integer: got '$conf'"))
    // cap + 1 must stay a valid Int LIMIT: a conf >= Int.MaxValue
    // would silently clamp the probe to the cap itself and disable
    // the over-cap detection (and a driver-side collect of 2^31 rows
    // is never a sane gate model anyway) — reject it loudly instead.
    require(
      cap > 0 && cap < Int.MaxValue,
      s"$key must be in (0, ${Int.MaxValue}): got $cap")
    val rows = graft.operators.TextOps
      .knModelForStream(spark, refDir)
      .select(col("bg_fp"), col("nll64"))
      .limit((cap + 1).toInt)
      .collect()
    if (rows.length > cap)
      throw new IllegalStateException(
        s"PplGateStream reference model exceeds $cap bigram types: the " +
          "refDir corpus is not reference-snapshot-sized. Point refDir at " +
          s"a bounded reference corpus (CCNet's discipline) or raise $key " +
          "if the collect and broadcast budget allows it")
    val m = new scala.collection.mutable.LongMap[Long](rows.length * 2)
    rows.foreach { r =>
      val fp = r.getLong(0)
      val v = r.getLong(1)
      m.get(fp) match {
        case Some(prev) if prev != v =>
          throw new IllegalStateException(
            s"60-bit bigram fingerprint collision in the reference model " +
              s"(fp=$fp, nll64 $prev vs $v): two distinct bigrams share a " +
              "fingerprint, which would silently break stream/batch parity " +
              "— widen the fingerprint for this corpus")
        case _ => m.update(fp, v)
      }
    }
    m
  }

  /** Per-arriving-doc perplexity rows over a directory of document
    * parquet files (each file = one ingest micro-batch); the model
    * trains on `refDir`'s canonical table.
    */
  def scored(spark: SparkSession, streamDir: String, refDir: String): Dataset[PplRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(modelIndex(spark, refDir))
    IngestEdge
      .docs(spark, streamDir)
      .select(col("doc_id"), col("source"), DsirGateStream.textShingles(2).as("fps"))
      .as[(Long, String, Array[Long])]
      .map { case (id, src, fps) =>
        val m = bc.value
        var s = 0L
        var n = 0L
        fps.foreach { f =>
          m.get(f) match {
            case Some(v) => s += v; n += 1
            case None    => ()
          }
        }
        PplRow(id, src, n, s, if (n > 0) s / n else 0L)
      }
  }
}
