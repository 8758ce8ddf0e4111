package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The END-TO-END cleaning pipeline AT INGEST — the online twin of
  * the batch `clean_pipeline` gate (`TextOps.cleanPipeline`): every
  * arriving document flows through the same three stages the moment
  * it lands — corpus-boilerplate line drop, PII sentinel redaction,
  * token-wise secret redaction — and is persisted already clean.
  * This is the composition a production ingest edge actually runs
  * (one pass, not three), and it proves the per-family streams
  * ([[BoilerplateStream]] and the PII edge of [[IngestEdge]]) compose.
  *
  * Architecture: a stateless [[IngestEdge]] with ONE bounded broadcast
  * (the template-bounded boilerplate line set, built from the
  * canonical composite corpus — [[BoilerplateStream]]'s boundedness
  * argument); stages 2–3 are pure per-row regex/token work.
  *
  * The regex stages run on the SAME Java regex engine Spark's
  * `regexp_replace` uses (java.util.regex, replace-all semantics), so
  * the JVM map and the batch Column plan cannot diverge on a dialect
  * seam; the injection chain is the shared `TextOps.dirtyDocs`
  * expressions, so the corpus cannot drift either.
  */
object CleanPipelineStream {

  final case class CleanRow(
      doc_id: Long,
      n_boiler_dropped: Long,
      n_pii_redacted: Long,
      n_secrets_redacted: Long,
      clean_text: String
  )

  def cleaned(
      spark: SparkSession,
      streamDir: String,
      corpusDir: String
  ): Dataset[CleanRow] = {
    import spark.implicits._
    import graft.operators.TextOps.{EmailRe, PhoneRe, Ipv4Re, SecretShapeRe, SecretDiversityMin}
    // the boilerplate set over the COMPOSITE corpus: line 1 carries
    // doc-unique PII/secret tails, so only true templates and large
    // exact-dup clusters cross the threshold
    val bc = spark.sparkContext.broadcast(
      BoilerplateStream.boilerLineSet(graft.operators.TextOps.dirtyDocs(spark, corpusDir)))
    val shapeRe = ("^" + SecretShapeRe + "$").r
    def isSecret(t: String): Boolean =
      shapeRe.findFirstIn(t).isDefined && t.distinct.length >= SecretDiversityMin
    IngestEdge
      .docs(spark, streamDir)
      .select(col("doc_id"), col("source"), graft.operators.TextOps.piiInjectExpr.as("text"))
      .select(col("doc_id"), col("source"), graft.operators.TextOps.secretInjectExpr.as("text"))
      .select(col("doc_id"), graft.operators.TextOps.boilerplateInjectExpr.as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val boiler = BoilerplateStream.dropLines(id, text, bc.value)
        val afterDrop = boiler.clean_text
        val nPii = (EmailRe.r.findAllIn(afterDrop).size +
          PhoneRe.r.findAllIn(afterDrop).size +
          Ipv4Re.r.findAllIn(afterDrop).size).toLong
        val afterPii = afterDrop
          .replaceAll(EmailRe, "<EMAIL>")
          .replaceAll(PhoneRe, "<PHONE>")
          .replaceAll(Ipv4Re, "<IP>")
        val ts = afterPii.split(" ", -1)
        CleanRow(
          id,
          boiler.n_dropped,
          nPii,
          ts.count(isSecret).toLong,
          ts.map(t => if (isSecret(t)) "<SECRET>" else t).mkString(" ")
        )
      }
  }
}
