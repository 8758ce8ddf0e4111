package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Apps, Engine, KeyValue}
import graft.functions.Fnv1a

/** Differential tests for the generic MapReduce kernel, mirroring the
  * reference's test-mr.sh structure (SURVEY.md §5): distributed output
  * must equal the sequential oracle's, independent of partitioning.
  */
class EngineSpec extends AnyFunSuite {
  import SparkTestBase._

  // (file, contents) of the test corpus, the sequential oracle's input
  private lazy val corpus: Seq[(String, String)] =
    Files
      .list(Paths.get(CorpusDir))
      .iterator()
      .asScala
      .filter(_.getFileName.toString.endsWith(".txt"))
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
      .sortBy(_._1)

  private def runDistributed(app: engine.MrApp): Map[String, String] =
    Engine
      .run(spark, CorpusGlob, app)
      .collect()
      .map(kv => kv.key -> kv.value)
      .toMap

  private def runOracle(app: engine.MrApp): Map[String, String] =
    Engine.sequential(corpus, app).map(kv => kv.key -> kv.value).toMap

  test("wc distributed == sequential oracle on the test corpus") {
    val got = runDistributed(Apps.WordCount)
    val want = runOracle(Apps.WordCount)
    assert(got.size === want.size)
    assert(got === want)
    // spot-check a known token against independent counting
    val a = corpus.map(_._2.split("[^\\p{L}]+").count(_ == "the")).sum
    assert(got("the").toInt === a)
  }

  test("indexer distributed == sequential oracle (sorted doc lists)") {
    val got = runDistributed(Apps.Indexer)
    val want = runOracle(Apps.Indexer)
    assert(got === want)
    // posting lists are sorted + distinct (reference plugins/indexer.go:39)
    got.values.take(200).foreach { v =>
      val docs = v.split(" ", 2)(1).split(",").toSeq
      assert(docs == docs.sorted && docs.distinct.size == docs.size)
    }
  }

  test("partition invariance: shuffle parallelism 1 vs 10 gives identical results") {
    import spark.implicits._
    val files = corpus.take(4)
    val input = spark.createDataset(files)
    val want = Engine.sequential(files, Apps.WordCount).toSet
    // word count whose value records the reduce task's partition
    val tagged = new engine.MrApp {
      def map(file: String, contents: String): Seq[KeyValue] = Apps.WordCount.map(file, contents)
      def reduce(key: String, values: Seq[String]): String =
        s"${org.apache.spark.TaskContext.getPartitionId()} ${Apps.WordCount.reduce(key, values)}"
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try for (n <- Seq(1, 10)) {
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      val result = Engine.mapReduce(spark, input, tagged)
      assert(result.rdd.getNumPartitions === n)
      val rows = result.collect().map(kv => kv.value.split(" ") match {
        case Array(part, count) => (part.toInt, KeyValue(kv.key, count))
      })
      // the reduce ran at that width: every one of the n tasks reduced keys
      assert(rows.map(_._1).toSet === (0 until n).toSet)
      assert(rows.map(_._2).toSet === want)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** Listener events posted while `body` runs. The listener bus delivers
    * events in order, so a marker job before and one after fence them.
    */
  private def eventsDuring(body: => Any): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val events = new LinkedBlockingQueue[SparkListenerEvent]()
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = events.put(e)
    }
    // runs a marker job; returns the events queued before it and drops its own
    def fence(name: String): Seq[SparkListenerEvent] = {
      sc.setJobGroup(name, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      def next(): SparkListenerEvent = {
        val e = events.poll(60, TimeUnit.SECONDS)
        assert(e != null, s"marker job $name never reached the listener")
        e
      }
      def markerStart(e: SparkListenerEvent) = e match {
        case j: SparkListenerJobStart => Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == name)
        case _ => false
      }
      val before = Vector.newBuilder[SparkListenerEvent]
      var e = next()
      while (!markerStart(e)) { before += e; e = next() }
      val marker = e.asInstanceOf[SparkListenerJobStart].jobId
      while (!(e match { case j: SparkListenerJobEnd => j.jobId == marker; case _ => false })) e = next()
      before.result()
    }
    sc.addSparkListener(listener)
    try { fence("fence-before"); body; fence("fence-after") }
    finally sc.removeSparkListener(listener)
  }

  private def jobsStartedDuring(body: => Any): Int =
    eventsDuring(body).count(_.isInstanceOf[SparkListenerJobStart])

  /** The stages `body` ran, in completion order. */
  private def stagesRunDuring(body: => Any): Seq[StageInfo] =
    eventsDuring(body).collect { case s: SparkListenerStageCompleted => s.stageInfo }

  /** Each entry `writeText` left in `dir`, checksum files aside: name → bytes. */
  private def outputFiles(dir: String): Map[String, Seq[Byte]] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(p => p.getFileName.toString -> (if (Files.isDirectory(p)) Nil else Files.readAllBytes(p).toSeq))
      .toMap

  /** `dir` holds exactly mr-out-0 … mr-out-(nReduce-1) and `_SUCCESS`, each
    * byte-identical to what `writeText` writes for the oracle's rows `want`.
    */
  private def assertWritten(dir: String, want: Seq[KeyValue], nReduce: Int, clue: String): Unit = {
    import spark.implicits._
    val oracleDir = Files.createTempDirectory("graft-oracle").toString
    Engine.writeText(spark.createDataset(want), oracleDir, nReduce)
    val (got, expected) = (outputFiles(dir), outputFiles(oracleDir))
    assert(got.keySet === (0 until nReduce).map(r => s"mr-out-$r").toSet + "_SUCCESS", clue)
    assert(expected.keySet === got.keySet, clue)
    val differ = got.keys.filter(f => got(f) != expected(f)).toSeq.sorted
    assert(differ.isEmpty, s"$clue: ${differ.mkString(", ")} differ from the oracle's")
  }

  test("mapReduce construction starts no Spark job (queries build plans, not jobs)") {
    import spark.implicits._
    val input = spark.createDataset(corpus.take(3)).repartition(3)
    assert(jobsStartedDuring(input.count()) >= 1, "the fence must see a job that does run")
    assert(jobsStartedDuring(Engine.mapReduce(spark, input, Apps.WordCount)) === 0)
  }

  test("crash/nocrash data app matches oracle (P7/P8 shape)") {
    assert(runDistributed(Apps.CrashData) === runOracle(Apps.CrashData))
  }

  test("reducers are order-insensitive (reference values arrive unordered)") {
    val values = (1 to 50).map(_.toString)
    val shuffles = Seq(values, Random.shuffle(values), values.reverse)
    for (app <- Apps.registry.values; v <- shuffles)
      assert(app.reduce("k", v) === app.reduce("k", values))
    // the combiner law: reducing the combined parts of any split of the
    // values equals reducing all of them (the engine combines per map
    // call; Engine.sequential never does)
    val rnd = new Random(42)
    for (app <- Apps.registry.values.collect { case c: engine.Combiner => c }; trial <- 1 to 20) {
      val perm = rnd.shuffle(values)
      val cuts = Seq.fill(rnd.nextInt(6))(rnd.nextInt(values.size + 1)).sorted
      val parts = (0 +: cuts).zip(cuts :+ values.size).map { case (a, b) => perm.slice(a, b) }
      assert(app.reduce("k", parts.map(app.combine("k", _))) === app.reduce("k", parts.flatten))
    }
  }

  test("tokenize: one code-point scan equals the non-letter regex split") {
    // the reference tokenizer as a regex: `\p{L}` is Go's unicode.IsLetter
    def regex(s: String): Seq[String] = s.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)
    val crafted = Seq(
      "", " ,.;-- 42 \r\n\t", "the quick\r\nbrown fox", "abc123def 4five",
      "math \uD835\uDC00bold\uD835\uDC00 letter", // U+1D400, a supplementary letter
      "cafe\u0301 re\u0301sume\u0301", // U+0301, a combining mark, is not a letter
      "lone\uD800surrogate \uDC00x y\uD835", "\u00FCber stra\u00DFe \u0416\u0443\u043A \u6F22\u5B57"
    )
    for (s <- crafted ++ corpus.map(_._2)) assert(Apps.tokenize(s) === regex(s))
    assert(Apps.tokenize("") === Nil && Apps.tokenize(" ,.;-- 42 \r\n\t") === Nil)
    assert(Apps.tokenize("x\uD835\uDC00y cafe\u0301") === Seq("x\uD835\uDC00y", "cafe"))
  }

  test("writeText: lines land in the FNV-1a bucket file, sorted by key (F7 parity)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-out").toString
    val data = (1 to 40).map(i => KeyValue(s"key$i", i.toString))
    val nReduce = 3
    Engine.writeText(spark.createDataset(data), tmp, nReduce = nReduce)
    val byPart = Files
      .list(Paths.get(tmp))
      .iterator()
      .asScala
      .filter(_.getFileName.toString.startsWith("mr-out-"))
      .map(p => p.getFileName.toString.drop(7).toInt -> Files.readAllLines(p).asScala.toSeq)
      .toMap
    // exact reference directory layout (mr/worker.go:60-61): every
    // bucket file named mr-out-<r>, r in [0, nReduce), plus _SUCCESS
    val names = Files.list(Paths.get(tmp)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
    assert(names === (0 until nReduce).map(r => s"mr-out-$r").toSet + "_SUCCESS")
    // every key is in exactly the file its FNV-1a bucket names
    // (mr/worker.go:129 Ihash(key) % nReduce), sorted within the file
    val all = byPart.toSeq.flatMap { case (part, lines) =>
      val keys = lines.map(_.split(" ")(0))
      assert(keys === keys.sorted, s"part $part not key-sorted")
      keys.foreach(k => assert(Fnv1a.hash(k) % nReduce === part, s"$k in wrong bucket"))
      lines
    }
    assert(all.sorted === data.map(kv => s"${kv.key} ${kv.value}").sorted)
  }

  test("writeText: each mr-out-r is in UTF-8 byte order (Go's sort.Sort(ByKey)), as MrTextSource.write writes it") {
    import spark.implicits._
    // U+FF21 is one UTF-16 unit (bytes EF BC A1), U+1D400 a surrogate
    // pair (F0 9D 90 80): by bytes U+FF21 sorts first, by UTF-16 units last
    val keys = for (p <- Seq("a", "\uFF21", "\uD835\uDC00"); q <- Seq("", "b", "\uFF21", "\uD835\uDC00"); i <- 1 to 5)
      yield s"$p$q$i"
    val data = keys.zipWithIndex.map { case (k, i) => KeyValue(k, i.toString) }
    val nReduce = 3
    val tmpA = Files.createTempDirectory("graft-utf8A").toString
    val tmpB = Files.createTempDirectory("graft-utf8B").toString
    Engine.writeText(spark.createDataset(data), tmpA, nReduce = nReduce)
    graft.sources.MrTextSource.write(spark.createDataset(data), tmpB, nReduce = nReduce)
    val byteOrder: Ordering[String] =
      (a, b) => java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    val files = (0 until nReduce).map { r =>
      val a = Files.readAllBytes(Paths.get(tmpA, s"mr-out-$r"))
      assert(java.util.Arrays.equals(a, Files.readAllBytes(Paths.get(tmpB, s"mr-out-$r"))),
        s"mr-out-$r differs from MrTextSource.write")
      val fileKeys = new String(a, UTF_8).split("\n").toSeq.filter(_.nonEmpty).map(_.split(" ")(0))
      assert(fileKeys === fileKeys.sorted(byteOrder), s"mr-out-$r is not in UTF-8 byte order")
      fileKeys.foreach(k => assert(Fnv1a.hash(k) % nReduce === r, s"$k in wrong bucket"))
      fileKeys
    }
    assert(files.flatten.sorted === keys.sorted)
    // String's own order compares UTF-16 units: it must disagree somewhere
    assert(files.exists(ks => ks != ks.sorted), "the keys must tell UTF-16 from UTF-8 order")
  }

  test("MrTextSource: round-trips the sink, prunes files on bucket pushdown, prunes columns") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-src").toString
    val data = (1 to 60).map(i => KeyValue(s"key$i", i.toString))
    val nReduce = 4
    Engine.writeText(spark.createDataset(data), tmp, nReduce = nReduce)
    val df = spark.read.format("graft.sources.MrTextSource").option("path", tmp).load()
    // full round-trip, bucket column correct
    val rows = df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(rows.map(t => (t._2, t._3)).sorted === data.map(kv => (kv.key, kv.value)).sorted)
    rows.foreach { case (b, k, _) => assert(b === Fnv1a.hash(k) % nReduce) }
    // bucket pushdown prunes input partitions to exactly one file
    val one = df.filter($"bucket" === 2)
    assert(one.rdd.getNumPartitions === 1, "bucket filter must prune files, not just rows")
    assert(one.collect().forall(_.getInt(0) == 2))
    assert(one.count() === rows.count(_._1 == 2).toLong)
    val two = df.filter($"bucket".isin(1, 3))
    assert(two.rdd.getNumPartitions === 2)
    // the pushed filter is exact: no residual Filter node re-checks it
    assert(!one.queryExecution.executedPlan.toString.contains("Filter "),
      s"unexpected residual filter:\n${one.queryExecution.executedPlan}")
    // column pruning reaches the scan
    val pruned = df.select($"key").queryExecution.executedPlan
    val scanOut = pruned.collectLeaves().head.output.map(_.name)
    assert(scanOut === Seq("key"), s"scan must read only key, got $scanOut")
  }

  test("MrTextSource: contradictory bucket filters intersect to an empty scan") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-empty").toString
    val data = (1 to 20).map(i => KeyValue(s"key$i", i.toString))
    Engine.writeText(spark.createDataset(data), tmp, nReduce = 3)
    val df = spark.read.format("graft.sources.MrTextSource").option("path", tmp).load()
    val none = df.filter($"bucket" === 0 && $"bucket" === 2)
    assert(none.count() === 0L)
    // pruned at planning: no partitions at all, not 0 rows from N files
    assert(none.rdd.getNumPartitions === 0,
      "intersecting contradictory pushed filters must prune every file")
  }

  test("MrTextSource: runtime filtering (DSv2 DPP) prunes bucket FILES from join keys") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-dpp").toString
    // pad values so the sink's REPORTED stats (real bytes, see the
    // statistics test) keep the fact side bigger than the dim — else
    // the planner broadcasts the fact itself and DPP has no probe side
    val data = (1 to 60).map(i => KeyValue(s"key$i", i.toString + ("v" * 4000)))
    val nReduce = 4
    Engine.writeText(spark.createDataset(data), tmp, nReduce = nReduce)
    val fact = spark.read.format("graft.sources.MrTextSource")
      .option("path", tmp).option("nreduce", nReduce.toString).load()
    // dim keys landing in a strict subset of the buckets
    val dimKeys = Seq("key7", "key13")
    val wantBuckets = dimKeys.map(k => Fnv1a.hash(k) % nReduce).toSet
    assert(wantBuckets.size < nReduce, "test needs keys covering a strict bucket subset")
    // the filter marks the build side selective (the DPP precondition);
    // parquet-backed so ConvertToLocalRelation cannot fold it away, and
    // a COMPARISON (not an equality, even negated — Spark's
    // CleanupDynamicPruningFilters collects nested EqualTo(attr,
    // literal) and drops DPP as "statically pruned")
    val dimDir = Files.createTempDirectory("graft-dpp-dim").toString
    dimKeys.toDF("key").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"key" > "")
    graft.sources.MrTextSource.lastRuntimePrune = None
    val joined = fact.join(dim, Seq("key"))
    val got = joined.select($"key", $"value").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === dimKeys.map(k => (k, k.stripPrefix("key") + ("v" * 4000))).toSet)
    val prune = graft.sources.MrTextSource.lastRuntimePrune
    assert(prune.exists { case (tot, kept) => tot == nReduce && kept == wantBuckets.size },
      s"runtime filter did not prune files (got $prune):\n${joined.queryExecution.executedPlan}")
    // a declared bucket count the layout contradicts fails loudly at
    // plan time — never a silent mis-prune
    val bad = spark.read.format("graft.sources.MrTextSource")
      .option("path", tmp).option("nreduce", "2").load()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e = intercept[Throwable] { bad.collect() }
    assert(msgs(e).exists(_.contains("nreduce=2 contradicts")), s"unexpected: $e")
    // ... and the guard must validate the FULL layout: a static bucket
    // filter that happens to keep only files below the declared count
    // must NOT smuggle the lying modulus past the check (runtime key
    // pruning would map keys with it over the whole sink)
    val e2 = intercept[Throwable] { bad.filter($"bucket" === 1).collect() }
    assert(msgs(e2).exists(_.contains("nreduce=2 contradicts")), s"unexpected: $e2")
  }

  test("MrTextSource: reported statistics are real file bytes; small sink auto-broadcasts") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-stats").toString
    val data = (1 to 60).map(i => KeyValue(s"key$i", i.toString))
    Engine.writeText(spark.createDataset(data), tmp, nReduce = 4)
    val df = spark.read.format("graft.sources.MrTextSource").option("path", tmp).load()
    val want = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("mr-out-"))
      .map(_.length()).sum
    val full = df.queryExecution.optimizedPlan.collectLeaves().head.stats.sizeInBytes
    assert(full === BigInt(want), "stats must be the sink's actual bytes, not a default")
    // stats compose with pushed bucket pruning
    val pruned = df.filter($"bucket" === 2).queryExecution.optimizedPlan
      .collectLeaves().head.stats.sizeInBytes
    assert(pruned < full && pruned > 0)
    // real stats drive the broadcast decision WITHOUT a hint: the mr
    // sink is small, the parquet side big — planner must broadcast us
    val bigDir = Files.createTempDirectory("graft-stats-big").toString
    (1 to 20000).map(i => (s"key${i % 60 + 1}", "x" * 50)).toDF("key", "pad")
      .write.mode("overwrite").parquet(bigDir)
    val big = spark.read.parquet(bigDir)
    val joined = big.join(df.select($"key", $"value"), Seq("key"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // AQE prints the plan twice
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    val broadcastSide = plan.split("BroadcastExchange")(1)
    assert(broadcastSide.contains("MrTextScan"),
      s"the small mr sink must be the broadcast side:\n$plan")
  }

  test("MrTextSource: MIN/MAX(key) push down to first/last-line reads via the sort invariant") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-agg").toString
    val data = (1 to 70).map(i => KeyValue(f"key$i%03d", i.toString))
    Engine.writeText(spark.createDataset(data), tmp, nReduce = 4)
    val df = spark.read.format("graft.sources.MrTextSource").option("path", tmp).load()
    val agg = df.agg(org.apache.spark.sql.functions.min($"key"), org.apache.spark.sql.functions.max($"key"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("MrTextAggScan"), s"aggregate not pushed:\n$plan")
    val r = agg.collect()(0)
    assert(r.getString(0) === "key001" && r.getString(1) === "key070")
    // composes with bucket file pruning
    val one = df.filter($"bucket" === 1)
      .agg(org.apache.spark.sql.functions.min($"key"), org.apache.spark.sql.functions.max($"key")).collect()(0)
    val keys = data.map(_.key).filter(k => Fnv1a.hash(k) % 4 === 1)
    assert(one.getString(0) === keys.min && one.getString(1) === keys.max)
  }

  test("MrTextSource write path: declared clustering+ordering reproduces Engine.writeText byte-for-byte") {
    import spark.implicits._
    val tmpA = Files.createTempDirectory("graft-wA").toString
    val tmpB = Files.createTempDirectory("graft-wB").toString
    val data = (1 to 80).map(i => KeyValue(s"key$i", i.toString))
    val nReduce = 16 // > distinct buckets hit, so empty-bucket files are exercised
    Engine.writeText(spark.createDataset(data), tmpA, nReduce = nReduce)
    graft.sources.MrTextSource.write(spark.createDataset(data), tmpB, nReduce = nReduce)
    def partFiles(dir: String): Map[String, Seq[String]] = Files
      .list(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("mr-out-"))
      .filterNot(p => p.getFileName.toString.endsWith(".crc"))
      .map(p => p.getFileName.toString -> Files.readAllLines(p).asScala.toSeq)
      .toMap
    val a = partFiles(tmpA)
    val b = partFiles(tmpB)
    assert(b.keySet === a.keySet, "same file set, empty buckets included")
    a.foreach { case (f, lines) => assert(b(f) === lines, s"$f differs") }
    assert(Files.exists(Paths.get(tmpB, "_SUCCESS")))
    // and the DSv2 reader closes the loop on the DSv2-written layout
    val back = spark.read.format("graft.sources.MrTextSource").option("path", tmpB).load()
    assert(back.count() === data.length.toLong)
  }

  test("fnv1a matches the published FNV-1a 32-bit test vectors") {
    // public FNV-1a reference values (Noll's tables), masked & 0x7fffffff
    assert(Fnv1a.hash("") === (0x811c9dc5 & 0x7fffffff))
    assert(Fnv1a.hash("a") === (0xe40c292c & 0x7fffffff))
    assert(Fnv1a.hash("foobar") === (0xbf9cf968 & 0x7fffffff))
  }

  test("exactly-once map execution without failures (P5 jobcount analogue)") {
    val acc = spark.sparkContext.longAccumulator("mapCalls")
    val counting = new engine.MrApp {
      def map(file: String, contents: String): Seq[KeyValue] = {
        acc.add(1)
        Apps.FileCount.map(file, contents)
      }
      def reduce(key: String, values: Seq[String]): String = Apps.FileCount.reduce(key, values)
    }
    val got = Engine.run(spark, CorpusGlob, counting).collect().map(kv => kv.key -> kv.value).toMap
    assert(acc.value === corpus.size)
    assert(got === runOracle(Apps.FileCount))
  }

  test("task retry recovers from a first-attempt crash (P7 crash analogue)") {
    // a Combiner, so the retried map attempt runs the combine path too;
    // reduce crashes as well: in the reduce stage of a collect, and in
    // writeText's fused task, after its attempt opened its temp file
    val crashing = new engine.Combiner {
      private def crashFirstAttempt(where: String): Unit = {
        val tc = org.apache.spark.TaskContext.get()
        if (tc.partitionId() == 0 && tc.attemptNumber() == 0)
          throw new RuntimeException(s"injected $where crash (attempt 0)")
      }
      def map(file: String, contents: String): Seq[KeyValue] = {
        crashFirstAttempt("map")
        Apps.WordCount.map(file, contents)
      }
      def combine(key: String, values: Seq[String]): String = Apps.WordCount.combine(key, values)
      def reduce(key: String, values: Seq[String]): String = {
        crashFirstAttempt("reduce")
        Apps.WordCount.reduce(key, values)
      }
    }
    assert(runDistributed(crashing) === runOracle(Apps.WordCount))
    val want = Engine.sequential(corpus, Apps.WordCount)
    assert(want.exists(kv => Fnv1a.hash(kv.key) % 3 == 0), "bucket 0 must hold a key for its reduce to crash")
    val tmp = Files.createTempDirectory("graft-retry").toString
    Engine.writeText(Engine.run(spark, CorpusGlob, crashing), tmp, nReduce = 3)
    assertWritten(tmp, want, 3, "retried fused write") // exact file set: no _temporary left
  }

  test("soak: randomized crash + stall injection on BOTH stages, repeated trials " +
    "(test-mr.sh random-worker loop + test-mr-many.sh analogue)") {
    // The reference soak (test-mr.sh:286-333) respawns randomly-dying
    // workers until the job drains, and its crash plugin also STALLS
    // (plugins/crash.go:29-34, sleep under the watcher's deadline);
    // test-mr-many.sh loops the whole suite to flush flakes. Analogue:
    // per trial, a seeded RNG picks map partitions AND reduce
    // partitions to kill on attempt 0 (maxFailures=2 retries them) or
    // to stall; every trial's output must equal the sequential oracle.
    val want = runOracle(Apps.WordCount)
    for (trial <- 1 to 3) {
      val seed = 0xC0FFEE + trial
      val faulty = new engine.MrApp {
        def map(file: String, contents: String): Seq[KeyValue] = {
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null) {
            val rnd = new Random(seed * 1009L + tc.partitionId())
            if (tc.attemptNumber() == 0 && rnd.nextInt(100) < 40)
              throw new RuntimeException(s"injected map crash (trial $trial)")
            if (rnd.nextInt(100) < 40)
              Thread.sleep(50L + rnd.nextInt(200)) // stall under the retry deadline
          }
          Apps.WordCount.map(file, contents)
        }
        def reduce(key: String, values: Seq[String]): String = {
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null) {
            // per-PARTITION decision (same for every key in the task),
            // so a doomed reduce task dies on its first key, once
            val rnd = new Random(seed * 2003L + tc.partitionId())
            if (tc.attemptNumber() == 0 && rnd.nextInt(100) < 30)
              throw new RuntimeException(s"injected reduce crash (trial $trial)")
            if (math.floorMod(key.hashCode, 97) == trial)
              Thread.sleep(30L) // sparse per-key stall
          }
          Apps.WordCount.reduce(key, values)
        }
      }
      val got = Engine
        .run(spark, CorpusGlob, faulty)
        .collect()
        .map(kv => kv.key -> kv.value)
        .toMap
      assert(got === want, s"trial $trial diverged from the sequential oracle")
    }
  }

  test("writeText of an Engine.run result: byte-identical to the oracle's rows (fused sink)") {
    for (app <- Seq(Apps.WordCount, Apps.Indexer, Apps.CrashData); n <- Seq(1, 3, 10)) {
      val tmp = Files.createTempDirectory("graft-fused").toString
      Engine.writeText(Engine.run(spark, CorpusGlob, app), tmp, n)
      assertWritten(tmp, Engine.sequential(corpus, app), n, s"${app.getClass.getSimpleName} at nReduce = $n")
    }
    // a derived result is not fused: it is written as the rows it holds
    val tmp = Files.createTempDirectory("graft-derived").toString
    Engine.writeText(Engine.run(spark, CorpusGlob, Apps.WordCount).filter(_.value != "1"), tmp, 3)
    assertWritten(tmp, Engine.sequential(corpus, Apps.WordCount).filter(_.value != "1"), 3, "derived")
    // nor is a persisted one: writeText reads its cache and maps no file again
    val maps = spark.sparkContext.longAccumulator("maps")
    val counting = new engine.MrApp {
      def map(file: String, contents: String): Seq[KeyValue] = { maps.add(1); Apps.CrashData.map(file, contents) }
      def reduce(key: String, values: Seq[String]): String = Apps.CrashData.reduce(key, values)
    }
    val cached = Engine.run(spark, CorpusGlob, counting).persist()
    try {
      cached.count()
      assert(maps.value === corpus.size.toLong)
      Engine.writeText(cached, tmp, 3)
      assert(maps.value === corpus.size.toLong, "writeText recomputed a persisted result")
      assertWritten(tmp, Engine.sequential(corpus, Apps.CrashData), 3, "persisted")
    } finally cached.unpersist()
  }

  test("writeText of an Engine.run result shuffles once: a map stage, then reduce-and-write") {
    val tmp = Files.createTempDirectory("graft-stages").toString
    def shuffles(stages: Seq[StageInfo]) = stages.count(_.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
    val fused = stagesRunDuring(Engine.writeText(Engine.run(spark, CorpusGlob, Apps.WordCount), tmp, 10))
    assert(fused.size === 2, fused.map(_.name))
    assert(shuffles(fused) === 1)
    // a derived result is reduced in its own stage, then shuffled to the buckets
    val derived = stagesRunDuring(
      Engine.writeText(Engine.run(spark, CorpusGlob, Apps.WordCount).filter(_ => true), tmp, 10))
    assert(derived.size === 3, derived.map(_.name))
    assert(shuffles(derived) === 2)
  }

  test("output finality: commit marker exists before writeText returns (P6 analogue)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-final").toString
    Engine.writeText(spark.createDataset(Seq(KeyValue("k", "v"))), tmp, nReduce = 2)
    // writeText renames every bucket file into place, then writes
    // _SUCCESS last; its presence when the call returns is the
    // reference's early-exit invariant (`test-mr.sh:228-284`): no reader
    // can observe a partial job.
    assert(Files.exists(Paths.get(tmp, "_SUCCESS")))
  }

  test("map parallelism: tasks genuinely overlap (P3 mtiming analogue)") {
    import spark.implicits._
    val spans = spark
      .createDataset(1 to 4)
      .repartition(4)
      .mapPartitions { it =>
        val start = System.nanoTime
        Thread.sleep(300)
        val end = System.nanoTime
        it.map(_ => (start, end))
      }
      .collect()
    val overlaps = spans.combinations(2).count { case Array((s1, e1), (s2, e2)) =>
      s1 < e2 && s2 < e1
    }
    assert(overlaps >= 1, "expected at least two concurrently-running map tasks")
  }

  test("reduce parallelism: post-shuffle tasks overlap (P4 rtiming analogue)") {
    // The reference asserts >= 2 concurrent REDUCERS (test-mr.sh:180-201,
    // plugins/rtiming.go:81-87); same span-overlap technique as the map
    // test, but the spans are recorded inside the engine's reduce — i.e.
    // after the shuffle, in reduce tasks — and overlap must cross task
    // boundaries. The shuffle is deliberately tiny: the engine must still
    // reduce it at the session's shuffle width.
    import spark.implicits._
    val rtiming = new engine.MrApp {
      def map(file: String, contents: String): Seq[KeyValue] =
        Seq(KeyValue((file.toInt % 16).toString, file))
      def reduce(key: String, values: Seq[String]): String = {
        val start = System.nanoTime
        Thread.sleep(150)
        val end = System.nanoTime
        s"${org.apache.spark.TaskContext.getPartitionId()} $start $end"
      }
    }
    val input = spark.createDataset((1 to 64).map(i => (i.toString, "")))
    val spans = Engine.mapReduce(spark, input, rtiming).collect().map { kv =>
      val Array(p, start, end) = kv.value.split(" ")
      (p.toInt, start.toLong, end.toLong)
    }
    assert(spans.map(_._1).distinct.length >= 2, "groups all landed in one reduce task")
    val overlaps = spans.combinations(2).count { case Array((p1, s1, e1), (p2, s2, e2)) =>
      p1 != p2 && s1 < e2 && s2 < e1
    }
    assert(overlaps >= 1, "expected at least two concurrently-running reduce tasks")
  }

  test("dynamic plugin loading: class-name resolution binds the MrApp contract " +
    "(the plugin.Open/Lookup analogue)") {
    // a Scala object resolved by its runtime class name == the static
    // registry entry, end to end through the kernel
    val dynWc = graft.engine.Apps.loadDynamic("graft.engine.Apps$WordCount$")
    val files = Seq(("f1", "alpha beta alpha"), ("f2", "beta gamma"))
    val viaDynamic = graft.engine.Engine.sequential(files, dynWc)
    val viaRegistry = graft.engine.Engine.sequential(files, graft.engine.Apps.registry("wc"))
    assert(viaDynamic === viaRegistry)
    // a plain class with a no-arg constructor loads too
    val dynCls = graft.engine.Apps.loadDynamic("graft.DynamicClassApp")
    assert(dynCls.map("f", "x y").map(_.key) === Seq("f"))
    // lookup: registry name wins; unknown dotted names dlopen; junk fails loudly
    assert(graft.engine.Apps.lookup("wc") eq graft.engine.Apps.WordCount)
    intercept[ClassNotFoundException] {
      graft.engine.Apps.lookup("graft.engine.NoSuchPlugin")
    }
    intercept[IllegalArgumentException] {
      graft.engine.Apps.loadDynamic("java.lang.StringBuilder") // not an MrApp
    }
    // a PLAIN name missing from the registry is an unknown-app error,
    // never a reflection attempt (the dynamic path requires the
    // fully-qualified dotted shape)
    val typo = intercept[IllegalArgumentException] {
      graft.engine.Apps.lookup("wcc")
    }
    assert(typo.getMessage.contains("unknown app"))
  }

  test("mr_map SQL generator: equals the kernel transport, dynamic dotted names " +
    "load, junk and non-literal names fail at analysis") {
    // the gate query (SQL text end to end) == the kernel engine run
    val sqlForm = graft.operators.TextOps.wordCountViaSqlMap(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kernel = graft.operators.TextOps.wordCountViaKernel(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sqlForm === kernel)
    assert(sqlForm.nonEmpty)
    // the DYNAMIC path through SQL: a fully-qualified object name runs
    // the same plugin (wordCountViaSqlMap registered the input view)
    val viaDynamic = spark.sql(
      "SELECT key, count(*) AS cnt FROM (SELECT " +
        "mr_map('graft.engine.Apps$WordCount$', file, text) AS (key, value) " +
        "FROM graft_mr_input) GROUP BY key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaDynamic === kernel)
    // an unknown app is an ANALYSIS error (bad .so at worker startup),
    // not a per-task error
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT mr_map('no_such_app', file, text) AS (key, value) " +
        "FROM graft_mr_input")
    }
    assert(bad.getMessage.contains("unknown app"), bad.getMessage)
    // the app name must be a literal: it binds at plan time
    val nonLit = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT mr_map(file, file, text) AS (key, value) " +
        "FROM graft_mr_input")
    }
    assert(nonLit.getMessage.contains("literal"), nonLit.getMessage)
  }
}

/** Test fixture for the dynamic-load path: a plugin CLASS (no-arg
  * constructor) that exists outside `Apps.registry`.
  */
class DynamicClassApp extends graft.engine.MrApp {
  def map(file: String, contents: String): Seq[graft.engine.KeyValue] =
    Seq(graft.engine.KeyValue(file, contents.length.toString))
  def reduce(key: String, values: Seq[String]): String = values.sorted.mkString(",")
}
