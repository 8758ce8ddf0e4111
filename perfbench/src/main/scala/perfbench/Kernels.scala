package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Per-row throughput of the codegen kernels in `graft.functions`, on a
  * seeded `spark.range` table held in memory. Each row carries enough
  * work (64-wide vectors, 40-token documents) that per-row cost, not
  * stage latency, sets the time.
  */
object Kernels {
  val Rows = 200000L

  /** (metric name, projection). The first ten are the SQL functions
    * `GraftExtensions` registers; the last three call `MinHashKernel.sigs`,
    * `SimHashKernel.bits` and `PhashKernel.bits`.
    */
  val Probes: Seq[(String, String)] = Seq(
    "vec_dot" -> "vec_dot(v, w)",
    "vec_norm_sq" -> "vec_norm_sq(v)",
    "md5_sign_bits" -> "md5_sign_bits(hex, 3)",
    "hamming_bits" -> "hamming_bits(bits_a, bits_b)",
    "ascii_window_sums" -> "ascii_window_sums(txt, 8)",
    "sliding_min" -> "sliding_min(longs, 5)",
    "int_vec_sum" -> "int_vec_sum(ints)",
    "word_ngrams" -> "word_ngrams(toks, 3)",
    "fnv1a" -> "fnv1a(key)",
    "mr_map" -> "mr_map('wc', key, txt) AS (k, v)",
    "minhash_sigs" -> "minhash_sigs(toks, 5)",
    "simhash64" -> "simhash64(toks)",
    "phash64" -> "phash64(pixels, 4L)")

  /** Rows per second for each probe: median of three timed runs after
    * one untimed run.
    */
  def probe(spark: SparkSession, seed: Long): Seq[(String, Double)] = {
    graft.functions.VectorExpressions.register(spark)
    val input = spark.range(Rows).selectExpr(
      "id",
      "cast(id AS string) AS key",
      s"md5(cast(id + $seed AS string)) AS hex",
      s"lpad(bin(xxhash64(id, $seed)), 64, '0') AS bits_a",
      s"lpad(bin(xxhash64(id, $seed + 1)), 64, '0') AS bits_b",
      s"transform(sequence(0, 63), i -> cast(sin(id + i + $seed) AS float)) AS v",
      s"transform(sequence(0, 63), i -> cast(cos(id * i + $seed) AS float)) AS w",
      s"transform(sequence(0, 63), i -> abs(xxhash64(id, i, $seed)) % 1000) AS longs",
      s"transform(sequence(0, 63), i -> abs(xxhash64(id, i, $seed + 7)) % 256) AS pixels",
      s"transform(sequence(0, 39), i -> concat('w', cast(abs(xxhash64(id, i, $seed)) % 500 AS string))) AS toks")
      .selectExpr("*", "array_join(toks, ' ') AS txt", "md5_sign_bits(hex, 1) AS ints")
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()
    try Probes.map { case (name, projection) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        input.selectExpr(projection).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      name -> Rows / Stats.median(Seq.fill(3)(once()))
    }
    finally input.unpersist(blocking = true): Unit
  }
}
