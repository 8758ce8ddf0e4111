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
  *  2. Queries run on a fixed thread pool (default 8, env
  *     `SPARK_GRAFT_VERIFY_THREADS`). Spark schedules concurrent jobs
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
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Dev-only subset filter (the driver never sets it): dump a few
    // queries without the full-board wait. tools/check.py forwards it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val board = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val threads = sys.env.get("SPARK_GRAFT_VERIFY_THREADS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1)
      .getOrElse(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
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
