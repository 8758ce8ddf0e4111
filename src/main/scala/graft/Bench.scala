package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * Each query is forced through the `noop` sink — unlike `.count()`,
  * which lets Catalyst prune every projection (a scan+md5 query would
  * degenerate to a parquet row count), noop materializes all output
  * columns while writing nothing.
  */
object Bench {

  /** 1-minute load average from /proc/loadavg (-1 if unreadable):
    * recorded per timed run so a driver reading the JSON can flag
    * measurements taken under external host load — two rounds in a
    * row were inflated 30-40% by neighbor processes and needed a
    * manual idle re-bench to adjudicate.
    */
  private def load1(): Double =
    try java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("/proc/loadavg"))
      .get(0).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    // Sample external load FIRST — before the session and the deep
    // warm-up pass contribute their own threads to the 1-min average.
    // (Measured: sampling after warm-up reads the warm-up itself as
    // loadavg ~3 on an otherwise-empty host, mislabeling every healthy
    // run as load-contaminated.)
    val loadStart = load1()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    // Warm codegen/JIT so the first measured query doesn't absorb the
    // one-time session cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Deep warm-up: run the whole board once at the smallest available
    // SF before timing anything. Generated-code shapes are plan-shaped,
    // not data-sized, so this compiles (JIT C2) every query's codegen
    // classes against tiny inputs — profiled: the alphabetically-first
    // query of each operator family otherwise absorbs the family's
    // whole warm-up (cluster_keepers: 21 s cold, 4.5 s warm). Timed
    // numbers then reflect engine throughput, not JVM compilation.
    val warmDir = Option(java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent)
      .map(_.resolve("sf0.001"))
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.toString)
      .filter(_ != sfDir)
    // Two timed runs per query, report the min: the first run carries
    // plan JIT/codegen (2-10x) and this host shows transient external
    // load spikes; min-of-2 approximates steady-state throughput.
    val failed = scala.collection.mutable.ListBuffer[String]()
    // Queries are measured independent of each other: see
    // GraftSession.dropAllBlocks (checkpoint-block lag was observed as
    // 5-10x slowdowns on later queries under a loaded host).
    def dropAllBlocks(): Unit = GraftSession.dropAllBlocks(spark)
    val board = SparkEntry.board
    warmDir.foreach { wd =>
      board.foreach { case (_, fn) =>
        try fn(spark, wd).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // timed run reports real failures
        finally GraftSession.dropAllBlocks(spark)
      }
    }
    val runLoads = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val results = board
      .map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          // capture BEFORE the finally: the block teardown is session
          // hygiene between runs, not part of the query's cost
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed += name
            -1.0 // sentinel: failed queries must not shrink the total
        } finally {
          // per-run load context (the 1-min average reflects the
          // window the run just occupied)
          runLoads(name) = runLoads.getOrElse(name, Nil) :+ load1()
          dropAllBlocks()
        }
      }
      val a = once()
      val b = if (a < 0) -1.0 else once()
      val m = math.min(a, b)
      // This host shows multi-second external load spikes (profiled:
      // the same query 1.1 s quiet, 12 s under a spike). When the two
      // runs disagree by more than 50% a spike likely spanned one of
      // them — take one extra measurement so min-of-N reflects the
      // engine, not the neighbor.
      val stable =
        if (m >= 0 && math.abs(a - b) > 0.5 * m) math.min(m, once()) else m
      name -> (if (a < 0) -1.0 else stable)
    }
    // Session-memoized artifacts (the shared pair graphs) are built by
    // the FIRST consumer's first run and read from blocks thereafter —
    // min-of-2 would silently discard the single most expensive pass
    // the engine runs. Emit each measured build as its own
    // "artifact:<name>" line (graft.operators.Artifacts records the
    // miss cost), counted into the workload total.
    val artifactLines = graft.operators.Artifacts.buildSeconds(sfDir)
      .toSeq.sortBy(_._1).map { case (n, s) => s"artifact:$n" -> s }
    val loadEnd = load1()
    val qs = (results ++ artifactLines).map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = (results ++ artifactLines).map(_._2).filter(_ >= 0).sum
    val failedJson = failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadJson = runLoads
      .map { case (k, ls) => "\"" + k + "\":" + ls.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","loadavg":{"start":$loadStart,"end":$loadEnd},"query_load":$loadJson}"""
    // The executor-shutdown race can dump a netty RPC stack through
    // log4j AFTER the results are computed, polluting the output the
    // driver parses; kill logging first, then emit the one JSON line
    // (stdout + a file copy so a noisy tail can never lose it).
    spark.sparkContext.setLogLevel("OFF")
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    // The full JSON above is ~20 KB on a 266-query board; a driver that
    // captures only the tail of stdout truncates its FRONT and can't
    // parse it (BENCH_r05/r06 were both parsed:null). Emit a compact
    // summary as the LAST line — small enough to always survive a tail
    // capture — with the slowest queries inlined so the summary alone
    // supports a first-order read. load_warn flags runs taken under
    // external host load (measured: loadavg 7+ inflates queries 3-30x).
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
    val slowestJson = slowest
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val elided = results.size - slowest.size
    val loadWarn = loadStart > 2.0
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"artifacts":${artifactLines.size},"failed":$failedJson,"sf":"$sfDir","loadavg_start":$loadStart,"loadavg_end":$loadEnd,"load_warn":$loadWarn,"queries":$slowestJson,"queries_elided":$elided,"detail":"bench_out.json"}"""
    println(summary)
    System.out.flush()
    try spark.stop()
    catch { case _: Throwable => () }
  }
}
