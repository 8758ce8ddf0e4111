package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{GraftSession, SparkEntry}
import graft.engine.{Apps, Engine, MrApp}
import graft.functions.Fnv1a
import graft.operators.Artifacts

/** A workload: board queries run by one closed-loop client, or (with
  * no queries) the MapReduce engine's word count and indexer. Board
  * passes start cold: an empty artifact registry and no staged artifact
  * files.
  */
final case class Workload(name: String, queries: Seq[String]) {
  def isMr: Boolean = queries.isEmpty
}

object Workloads {
  /** Text-pipeline queries whose cold runs build the SimHash,
    * decontamination, DSIR, media-hash and BPE artifact families; the
    * list is sized so that a run makes at least three timed passes
    * within the benchmark's time budget.
    */
  val Llm: Seq[String] = Seq(
    "decontaminate", "simhash_calibration", "dsir_doc_scores", "mm_ahash_pairs", "bpe_encode")

  def apply(name: String): Workload = name match {
    case "mr_wordcount" => Workload(name, Nil)
    case "llm_pipeline" => Workload(name, Llm)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, over
    * the latencies of all passes: (value, percentile, sample count).
    * Below 21 samples that percentile would not lie above the median;
    * the tail is then the median over passes of each pass's slowest
    * operation, reported as percentile 100.
    */
  def tail(perPass: Seq[Seq[Double]]): (Double, Double, Int) = {
    val s = perPass.flatten.sorted
    if (s.isEmpty) (0.0, 0.0, 0)
    else if (s.size > 20) (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
    else (median(perPass.filter(_.nonEmpty).map(_.max)), 100.0, s.size)
  }
}

/** Host readings kept with every run so a noisy one can be told apart. */
object Host {
  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)))

  /** Seconds of CPU stolen from this guest by the hypervisor, summed
    * over all CPUs (the `steal` column of /proc/stat's first line).
    */
  def stealS(): Double =
    try read("/proc/stat").linesIterator.next().trim.split("\\s+")(8).toDouble / 100.0
    catch { case _: Throwable => 0.0 }

  def loadavg1(): Double =
    try read("/proc/loadavg").split(" ")(0).toDouble catch { case _: Throwable => -1.0 }

  /** Peak resident set of this process (VmHWM) in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** What one timed pass measured. `groups` is the listener's per-group
  * task sums; it is empty for passes run without tracing.
  */
final case class PassResult(
    seconds: Double,
    latencies: Seq[(String, Double)],
    attempted: Int,
    failed: Int,
    dropS: Double,
    builds: Map[String, Double],
    stagedMb: Double,
    pinnedMb: Double,
    exchanges: Int,
    groups: Map[String, Counters]) {
  def built: Int = builds.size
  def buildS: Double = builds.values.sum
}

final class Run(
    workload: Workload,
    seed: Long,
    seconds: Double,
    traced: Boolean,
    data: String,
    out: String,
    launchedMs: Long,
    cores: Int) {

  private val tables = s"$data/tables"
  private val corpus = s"$data/corpus/*.txt"
  private val apps: Seq[(String, MrApp)] = Seq("wc" -> Apps.WordCount, "indexer" -> Apps.Indexer)
  private val board = SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private val spans = new Spans
  private val listener = new GroupListener
  private val problems = new ConcurrentLinkedQueue[String]()
  private var exchangeCount = 0
  private val warmupQueryS = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private var spark: SparkSession = _

  private def problem(msg: String): Unit = { System.err.println(s"[perfbench] $msg"); problems.add(msg) }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `body` as one traced phase of operation `op`: its jobs carry
    * the job group `<op>/<name>` and its interval becomes a span.
    */
  private def phase[T](pass: Int, op: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$op/$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(pass, op, name, "op", t0, System.nanoTime()))
      sc.clearJobGroup()
    }
  }

  private def exchanges(p: SparkPlan): Int = p match {
    // before execution, the adaptive plan's current plan is its
    // initial plan, with the exchanges EnsureRequirements inserted
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case _ => p.collectWithSubqueries { case e: Exchange => e }.size
  }

  /** One board query into the noop sink; its latency, or None if it threw.
    * Traced, the plan phase forces the query's `executedPlan`; the noop
    * write plans the query again, so `plan.plan_s` times a planning of
    * the same query, not the plan the write runs.
    */
  private def query(pass: Int, name: String, trace: Boolean): Option[Double] = {
    val op = s"p$pass.$name"
    val fn = board(name)
    val t0 = System.nanoTime()
    try {
      if (trace) {
        val df = phase(pass, op, "construct")(fn(spark, tables))
        phase(pass, op, "plan")(exchangeCount += exchanges(df.queryExecution.executedPlan))
        phase(pass, op, "execute")(noop(df))
      } else noop(fn(spark, tables))
      val t1 = System.nanoTime()
      if (trace) spans.add(Span(pass, op, "op", "", t0, t1))
      Some((t1 - t0) / 1e9)
    } catch {
      case e: Throwable => problem(s"$name failed: ${e.getMessage}"); None
    }
  }

  /** One MapReduce job (scan, map, shuffle, reduce, text sink). */
  private def mrJob(pass: Int, name: String, app: MrApp, trace: Boolean): Option[Double] = {
    val op = s"p$pass.$name"
    val dir = s"$out/mr/$name"
    val t0 = System.nanoTime()
    try {
      if (trace) {
        val result = phase(pass, op, "construct")(Engine.run(spark, corpus, app))
        phase(pass, op, "plan")(exchangeCount += exchanges(result.queryExecution.executedPlan))
        phase(pass, op, "scan")(noop(Engine.scanWholeFiles(spark, corpus).toDF()))
        phase(pass, op, "mapreduce")(noop(result.toDF()))
        phase(pass, op, "sink")(Engine.writeText(result, dir, 10))
      } else Engine.writeText(Engine.run(spark, corpus, app), dir, 10)
      val t1 = System.nanoTime()
      if (trace) spans.add(Span(pass, op, "op", "", t0, t1))
      Some((t1 - t0) / 1e9)
    } catch {
      case e: Throwable => problem(s"$name failed: ${e.getMessage}"); None
    }
  }

  private def dirMb(root: Path): Double =
    if (!Files.exists(root)) 0.0
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1e6
      finally s.close()
    }

  private def stagingDir: Path =
    Paths.get(s"$out/artifacts/${tables.replaceAll("[^A-Za-z0-9._-]", "_")}")

  private def dropBlocks(pass: Int, trace: Boolean): Double = {
    val t0 = System.nanoTime()
    GraftSession.dropAllBlocks(spark)
    val t1 = System.nanoTime()
    if (trace) spans.add(Span(pass, s"p$pass", "drop_blocks", "", t0, t1))
    (t1 - t0) / 1e9
  }

  private def pass(n: Int, trace: Boolean): PassResult = {
    if (!workload.isMr) {
      Artifacts.clear()
      Artifacts.dropStaging(spark, tables)
    }
    val before = Artifacts.buildSeconds(tables)
    if (trace) { BenchBus.drain(spark.sparkContext); listener.reset() }
    exchangeCount = 0
    val ops: Seq[(String, () => Option[Double])] =
      if (workload.isMr) apps.map { case (name, app) => name -> (() => mrJob(n, name, app, trace)) }
      else rng.shuffle(workload.queries).map(q => q -> (() => query(n, q, trace)))
    var dropS = 0.0
    val t0 = System.nanoTime()
    val latencies = ops.flatMap { case (name, op) =>
      val t = op()
      dropS += dropBlocks(n, trace)
      t.map(name -> _)
    }
    val passS = (System.nanoTime() - t0) / 1e9
    // builds in this pass: new entries, or entries rebuilt with a new time
    val built = Artifacts.buildSeconds(tables).filter { case (k, v) => !before.get(k).contains(v) }
    val pinned = spark.sparkContext.getRDDStorageInfo
      .filter(r => Artifacts.isPinned(r.id)).map(r => r.memSize + r.diskSize).sum / 1e6
    val groups = if (trace) { BenchBus.drain(spark.sparkContext); listener.groups } else Map.empty[String, Counters]
    PassResult(passS, latencies, ops.size, ops.size - latencies.size, dropS, built,
      dirMb(stagingDir), pinned, exchangeCount, groups)
  }

  /** Untimed warm-up. For the board, it writes every query's result
    * for the oracle compare (run.py does that with DuckDB) and compiles
    * the plans the timed passes run; it returns the artifacts a cold
    * pass builds. For the engine, it runs both jobs on the small
    * warm-up corpus; the timed passes' output is checked after them.
    */
  private def checkPass(): Int = {
    // MrWarmupRounds rounds: after one, the JIT is still speeding up the
    // engine's code through the first timed passes
    if (workload.isMr) for (_ <- 1 to Run.MrWarmupRounds; (name, app) <- apps) {
      try Engine.writeText(Engine.run(spark, s"$data/warmup/*.txt", app), s"$out/warmup/$name", 10)
      catch { case e: Throwable => problem(s"$name failed in warm-up: ${e.getMessage}") }
    } else {
      // one client per core, as graft.Verify runs the board; blocks
      // are dropped after the last query
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      workload.queries.foreach { q =>
        pool.execute { () =>
          val t0 = System.nanoTime()
          try board(q)(spark, tables).coalesce(1).write.mode("overwrite").parquet(s"$out/check/$q")
          catch { case e: Throwable => problem(s"$q failed in check pass: ${e.getMessage}") }
          finally warmupQueryS.put(q, (System.nanoTime() - t0) / 1e9)
        }
      }
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
      GraftSession.dropAllBlocks(spark)
      val oracle = workload.queries.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}")
      Files.writeString(Paths.get(s"$out/check/oracle_sql.json"), oracle.mkString("{", ",\n", "}\n"))
    }
    Artifacts.buildSeconds(tables).size
  }

  /** Compares each job's `mr-out-R` files with `Engine.sequential` over
    * the same files, and checks that each key sits in bucket
    * `Fnv1a.hash(key) % 10`, sorted by key. Returns (failed jobs, the
    * sequential engine's seconds for both jobs).
    */
  private def checkMr(): (Int, Double) = {
    val files = Engine.scanWholeFiles(spark, corpus).collect().toSeq
    var seqS = 0.0
    val failed = apps.count { case (name, app) =>
      val t0 = System.nanoTime()
      val expected = Engine.sequential(files, app).map(kv => s"${kv.key} ${kv.value}")
      seqS += (System.nanoTime() - t0) / 1e9
      val buckets = (0 until 10).map { r =>
        val p = Paths.get(s"$out/mr/$name/mr-out-$r")
        r -> (if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq else Nil)
      }
      val misplaced = buckets.flatMap { case (r, lines) =>
        val keys = lines.map(_.takeWhile(_ != ' '))
        val wrong = keys.filter(k => Fnv1a.hash(k) % 10 != r)
        if (keys != keys.sorted) wrong :+ s"<unsorted mr-out-$r>" else wrong
      }
      val got = buckets.flatMap(_._2).sorted
      val ok = misplaced.isEmpty && got == expected
      if (!ok) problem(s"$name output differs from Engine.sequential " +
        s"(${got.size} vs ${expected.size} lines, ${misplaced.size} misplaced)")
      !ok
    }
    (failed, seqS)
  }

  /** Per-layer metrics from the traced passes: the median over passes
    * of each per-pass figure.
    */
  private def layers(tracedPasses: Seq[(Int, PassResult)], plainPasses: Seq[PassResult]): Seq[(String, Double)] = {
    val all = spans.all
    def perPass(f: (Int, PassResult) => Double): Double =
      Stats.median(tracedPasses.map { case (n, r) => f(n, r) })
    def spanS(n: Int, name: String): Double = all.filter(s => s.pass == n && s.name == name).map(_.seconds).sum
    def phaseCounters(r: PassResult, phases: Set[String]): Counters =
      Counters.sum(r.groups.collect { case (g, c) if phases(g.substring(g.lastIndexOf('/') + 1)) => c })
    def execMetrics(prefix: String, phases: Set[String]): Seq[(String, Double)] = {
      def m(f: Counters => Double) = perPass((_, r) => f(phaseCounters(r, phases)))
      Seq(
        s"${prefix}jobs" -> m(_.jobs.toDouble),
        s"${prefix}stages" -> m(_.stages.toDouble),
        s"${prefix}tasks" -> m(_.tasks.toDouble),
        s"${prefix}tasks_per_stage" -> m(c => if (c.stages == 0) 0.0 else c.tasks.toDouble / c.stages),
        s"${prefix}task_run_s" -> m(_.runMs / 1e3),
        s"${prefix}task_cpu_s" -> m(_.cpuNs / 1e9),
        s"${prefix}shuffle_read_mb" -> m(_.shuffleReadB / 1e6),
        s"${prefix}shuffle_write_mb" -> m(_.shuffleWriteB / 1e6),
        s"${prefix}spill_mb" -> m(_.spillB / 1e6),
        s"${prefix}gc_s" -> m(_.gcMs / 1e3))
    }
    val execPhases = Set("execute", "scan", "mapreduce", "sink")
    def opSelf(n: Int): Double = all.filter(s => s.pass == n && s.name == "op").map { op =>
      op.seconds - all.filter(c => c.op == op.op && c.parent == "op").map(_.seconds).sum
    }.sum
    def phaseSum(name: String)(f: Counters => Double): Double = perPass((_, r) => f(phaseCounters(r, Set(name))))
    // plan, scan and mapreduce are probes a plain pass does not run: the
    // write plans its query again, and the sink runs the job again
    def probeS(n: Int): Double = Seq("plan", "scan", "mapreduce").map(spanS(n, _)).sum
    Seq(
      "operators.construct_s" -> perPass((n, _) => spanS(n, "construct")),
      "operators.construct_jobs" -> phaseSum("construct")(_.jobs.toDouble),
      "plan.plan_s" -> perPass((n, _) => spanS(n, "plan")),
      "plan.exchanges" -> perPass((_, r) => r.exchanges.toDouble),
      "exec.execute_s" -> perPass((n, _) => execPhases.toSeq.map(spanS(n, _)).sum),
    ) ++ execMetrics("exec.", execPhases) ++
      execMetrics("exec.construct_", Set("construct")).filterNot(_._1 == "exec.construct_jobs") ++ Seq(
      "exec.core_util" -> perPass((_, r) =>
        Counters.sum(r.groups.values).runMs / 1e3 / (r.seconds * cores)),
      "artifacts.built" -> perPass((_, r) => r.built.toDouble),
      "artifacts.build_s" -> perPass((_, r) => r.buildS),
      "artifacts.staged_mb" -> perPass((_, r) => r.stagedMb),
      "artifacts.pinned_mb" -> perPass((_, r) => r.pinnedMb),
      "engine.scan_s" -> perPass((n, _) => spanS(n, "scan")),
      "engine.mapreduce_s" -> perPass((n, _) => spanS(n, "mapreduce")),
      "engine.sink_s" -> perPass((n, _) => spanS(n, "sink") - spanS(n, "mapreduce")),
      "engine.shuffle_records" -> phaseSum("mapreduce")(_.shuffleWriteRecords.toDouble),
      "engine.shuffle_write_mb" -> phaseSum("mapreduce")(_.shuffleWriteB / 1e6),
      "engine.max_map_task_s" -> phaseSum("mapreduce")(_.maxMapTaskMs / 1e3),
      "session.drop_blocks_s" -> perPass((_, r) => r.dropS),
      "trace.op_self_s" -> perPass((n, _) => opSelf(n)),
      "trace.pass_s" -> perPass((_, r) => r.seconds),
      "trace.overhead_s" -> (perPass((n, r) => r.seconds - probeS(n)) - Stats.median(plainPasses.map(_.seconds))),
      "trace.unattributed_tasks" -> tracedPasses.map { case (n, r) =>
        r.groups.collect { case (g, c) if !g.startsWith(s"p$n.") => c.tasks }.sum.toDouble
      }.sum,
    )
  }

  def execute(): Unit = {
    val sessionT0 = System.nanoTime()
    spark = GraftSession.build(cores.toString)
    val buildS = (System.nanoTime() - sessionT0) / 1e9
    spark.conf.set("spark.graft.artifacts.dir", s"$out/artifacts")
    if (traced) spark.sparkContext.addSparkListener(listener)

    val warmT0 = System.nanoTime()
    val coldBuilt = checkPass()
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    if (!workload.isMr && coldBuilt == 0) problem("a cold pass built no artifacts")

    // the timed window, and at least three plain passes so that pass_s
    // is a median of three even when a pass outlasts the window; traced
    // runs alternate plain and traced passes
    val firstOpMs = System.currentTimeMillis()
    val steal0 = Host.stealS()
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer[(Int, Boolean, PassResult)]()
    // peak RSS after set-up and the first pass: a fixed amount of work,
    // where the HWM at exit would grow with the number of passes
    var peakRssMb = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    def count(tr: Boolean) = passes.count(_._2 == tr)
    while (elapsed < seconds || count(false) < 3 || (traced && count(true) < 1)) {
      val n = passes.size
      val tr = traced && n % 2 == 1
      val r = pass(n, tr)
      passes += ((n, tr, r))
      if (n == 0) peakRssMb = Host.peakRssMb()
      // board passes rebuild what the cold check pass built; the engine builds none
      val expected = if (workload.isMr) 0 else coldBuilt
      if (r.built != expected) problem(s"pass $n built ${r.built} artifacts, expected $expected")
    }
    val windowS = elapsed
    val stealS = Host.stealS() - steal0

    val (mrFailed, seqS) = if (workload.isMr) checkMr() else (0, 0.0)
    val plain = passes.collect { case (_, false, r) => r }.toSeq
    val tracedPasses = passes.collect { case (n, true, r) => n -> r }.toSeq

    val layerMetrics =
      if (!traced) Nil
      else {
        val kernels = Kernels.probe(spark, seed)
        val ls = layers(tracedPasses, plain)
        val unattributed = ls.collectFirst { case ("trace.unattributed_tasks", v) => v }.getOrElse(0.0)
        if (unattributed > 0) problem(s"$unattributed tasks ran outside any operation span")
        Seq("session.build_s" -> buildS, "session.warmup_s" -> warmupS) ++ ls ++
          Seq("engine.sequential_s" -> seqS) ++
          kernels.map { case (k, v) => s"functions.$k.rows_per_s" -> v } ++
          Seq("host.steal_s" -> stealS, "host.loadavg1" -> Host.loadavg1())
      }
    if (traced)
      Files.writeString(Paths.get(s"$out/spans.json"), spans.json(t0))

    val lat = plain.flatMap(_.latencies.map(_._2))
    val perQuery = plain.flatMap(_.latencies).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, ts) => q -> Stats.median(ts.map(_._2)) }
    val lastBuilds = passes.lastOption.map(_._3.builds.toSeq.sortBy(_._1)).getOrElse(Nil)
    val (tailV, tailPct, tailN) = Stats.tail(plain.map(_.latencies.map(_._2)))
    val attempted = passes.map(_._3.attempted).sum + (if (workload.isMr) apps.size else 0)
    val failed = passes.map(_._3.failed).sum + mrFailed
    val e2e = Seq(
      "setup_s" -> (firstOpMs - launchedMs) / 1e3,
      "pass_s" -> Stats.median(plain.map(_.seconds)),
      "query_p50_s" -> Stats.median(lat),
      "query_tail_s" -> tailV,
      "peak_rss_mb" -> peakRssMb)
    val detail = Seq(
      "passes" -> plain.size.toDouble, "traced_passes" -> tracedPasses.size.toDouble,
      "window_s" -> windowS, "query_tail_pct" -> tailPct, "query_samples" -> tailN.toDouble,
      "host_steal_s" -> stealS, "host_loadavg1" -> Host.loadavg1(),
      "session_build_s" -> buildS, "warmup_s" -> warmupS, "cold_artifacts" -> coldBuilt.toDouble)
    val json =
      s"""{"workload":${Json.str(workload.name)},"attempted":$attempted,"failed":$failed,""" +
        s""""problems":${problems.asScala.map(Json.str).mkString("[", ",", "]")},""" +
        s""""e2e":${Json.obj(e2e)},"layers":${Json.obj(layerMetrics)},"detail":${Json.obj(detail)},""" +
        s""""query_s":${Json.obj(perQuery)},"warmup_query_s":${Json.obj(warmupQueryS.asScala.toSeq.sortBy(_._1))},""" +
        s""""artifact_build_s":${Json.obj(lastBuilds)},""" +
        s""""plain_pass_s":${plain.map(r => Json.num(r.seconds)).mkString("[", ",", "]")},""" +
        s""""queries":${workload.queries.map(Json.str).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$out/result.json"), json + "\n")
  }

  def stop(): Unit = if (spark != null) spark.stop()
}

object Run {
  val MrWarmupRounds = 4
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}

/** Runs one workload in this JVM and writes `<out>/result.json`.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1
  * --data DIR (from gen.py) --out DIR --launched-ms EPOCH_MS
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val run = new Run(Workloads(a("workload")), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("out"), a("launched-ms").toLong, cores)
    try run.execute()
    finally run.stop()
  }
}
