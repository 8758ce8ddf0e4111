package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Two wall-clock disciplines, learned the hard way (round 8's driver
  * gate came back `{}` because a timeout killed a SERIAL run that wrote
  * the oracle file LAST — no oracle file, nothing to compare):
  *
  *  1. `oracle_sql.json` is written FIRST. A run killed mid-board then
  *     still leaves the driver a full oracle map plus every parquet
  *     completed so far — a partial gate instead of an empty one.
  *  2. Queries run on a fixed pool of [[Threads]] threads. Spark
  *     schedules concurrent jobs
  *     from one session natively; at verify SFs each query's cost is
  *     dominated by driver-side planning/codegen, so overlapping
  *     queries cuts board wall time several-fold (measured round 9:
  *     the full board's query phase 420 s serial → ~160 s at 8
  *     threads, sf0.001; whole check.py gate incl. DuckDB compare
  *     2 m 27 s). Shared session state is safe: the native functions
  *     are injected once when the session is built, each artifact is
  *     a once-cell (concurrent consumers wait for one build, different
  *     artifacts build in parallel), and each query writes its own
  *     output dir.
  */
object Verify {

  /** Queries in flight at once. */
  private val Threads = 8

  /** `oracles` as one JSON object, name -> SQL. Escapes backslash, quote
    * and ALL control chars (<0x20) — a tab or CR in hand-written SQL
    * would otherwise make the gate's json.load fail and silently zero
    * its correctness count.
    */
  def oracleJson(oracles: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))

    val board = SparkEntry.board
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    board.foreach { case (name, fn) =>
      pool.execute { () =>
        val q0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(
            f"[verify] ${done.incrementAndGet()}%3d/${board.size} $name ok " +
              f"(${(System.nanoTime() - q0) / 1e9}%.1fs, wall ${(System.nanoTime() - t0) / 1e9}%.0fs)")
        } catch { case e: Throwable =>
          done.incrementAndGet()
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    spark.stop()
  }
}
