package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Artifacts, DedupOps}

/** The artifact registry's contract.
  *
  * Durability (the reference analogue is the intermediate-file
  * materialization a worker loss re-reads instead of re-maps,
  * `mr/worker.go:104-120`): a STAGED artifact survives BOTH total
  * block loss (executor death — the localCheckpoint mode's
  * unrecoverable case) and a registry wipe (driver restart),
  * recovering by re-reading the staged files with NO rebuild — unless
  * the corpus under it changed.
  *
  * Concurrency: each key is a once-cell. Every concurrent case awaits
  * with a timeout, so a deadlock fails the case instead of hanging
  * the suite.
  */
class ArtifactsSpec extends AnyFunSuite {
  import SparkTestBase._
  import java.util.concurrent.{Callable, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.DataFrame

  private val Timeout = 60L

  /** Runs each body on its own thread and returns the results (or the
    * exceptions) in order, failing the test if any is not done within
    * [[Timeout]] seconds.
    */
  private def onThreads[T](bodies: Seq[() => T]): Seq[Either[Throwable, T]] = {
    val pool = Executors.newFixedThreadPool(bodies.size)
    try {
      val futures = bodies.map(b => pool.submit(new Callable[T] { def call(): T = b() }))
      futures.map { f =>
        try Right(f.get(Timeout, TimeUnit.SECONDS))
        catch {
          case _: java.util.concurrent.TimeoutException =>
            fail(s"no result within $Timeout s (deadlock?)")
          case e: java.util.concurrent.ExecutionException => Left(e.getCause)
        }
      }
    } finally pool.shutdownNow(): Unit
  }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  private def pairKey(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("durable artifacts: consumers recover from block loss and registry wipe " +
    "without re-running the build") {
    val name = "test_minhash_durable"
    Artifacts.dropStaging(spark, Sf0001, Some(name))
    var builds = 0
    // snapshot persisted RDDs so the simulated executor loss below can
    // target ONLY blocks this test created (suites run concurrently)
    val preExisting = spark.sparkContext.getPersistentRDDs.keySet
    def memo() = Artifacts.stage(spark, Sf0001, name) {
      builds += 1
      DedupOps.minhashLshBuild(spark, Sf0001)
    }
    try {
      val baseline = pairKey(memo())
      assert(builds === 1)
      assert(baseline.nonEmpty)
      // the ephemeral build and the staged read must agree exactly
      assert(baseline === pairKey(DedupOps.minhashLshBuild(spark, Sf0001)))

      // simulated executor loss: drop every block the build pipeline
      // created (its internal localCheckpoints) — a durable artifact
      // has no blocks of its own to lose
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => preExisting.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
      assert(pairKey(memo()) === baseline)
      assert(builds === 1, "block loss must not trigger a rebuild")

      // simulated driver restart: the in-memory registry entry is
      // gone; the staged files are the recovery path
      Artifacts.drop(spark, Sf0001, name)
      assert(pairKey(memo()) === baseline)
      assert(builds === 1, "registry wipe must recover from staging, not rebuild")

      // explicit invalidation: dropping the staged files is the one
      // way to force a re-run
      Artifacts.drop(spark, Sf0001, name)
      Artifacts.dropStaging(spark, Sf0001, Some(name))
      assert(pairKey(memo()) === baseline)
      assert(builds === 2, "dropStaging is the explicit rebuild trigger")
    } finally {
      Artifacts.drop(spark, Sf0001, name)
      Artifacts.dropStaging(spark, Sf0001, Some(name))
    }
  }

  test("artifact registry: build cost is recorded per (dir, name)") {
    // a fresh memo under a new name records its build seconds for
    // exactly this dir
    val name = "test_build_seconds"
    Artifacts.drop(spark, Sf0001, name)
    Artifacts.memo(spark, Sf0001, name) {
      spark.range(1000).toDF("id")
    }
    try {
      val recorded = Artifacts.buildSeconds(Sf0001)
      assert(recorded.contains(name), s"missing build-time record: $recorded")
      assert(recorded(name) >= 0.0)
      // and the record is dir-scoped: another dir sees nothing
      assert(!Artifacts.buildSeconds("/no/such/dir").contains(name))
    } finally Artifacts.drop(spark, Sf0001, name)
  }

  test("once-cells: 8 racing callers of one key share one build") {
    val name = "test_same_key"
    Artifacts.drop(spark, Sf0001, name)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val got = onThreads(Seq.fill(8) { () =>
        ids(Artifacts.memo(spark, Sf0001, name) {
          builds.incrementAndGet()
          Thread.sleep(500) // keep the build in flight while the others arrive
          spark.range(50).toDF("id")
        })
      })
      assert(builds.get === 1)
      assert(got === Seq.fill(8)(Right((0L until 50L).toSeq)))
    } finally Artifacts.drop(spark, Sf0001, name)
  }

  test("once-cells: different keys build concurrently") {
    // each build waits for the other to be in flight: a registry that
    // serializes builds times the barrier out
    val names = Seq("test_key_a", "test_key_b")
    names.foreach(Artifacts.drop(spark, Sf0001, _))
    val barrier = new CyclicBarrier(2)
    try {
      val got = onThreads(names.map { n => () =>
        ids(Artifacts.memo(spark, Sf0001, n) {
          barrier.await(Timeout / 2, TimeUnit.SECONDS)
          spark.range(3).toDF("id")
        })
      })
      assert(got === Seq.fill(2)(Right(Seq(0L, 1L, 2L))))
    } finally names.foreach(Artifacts.drop(spark, Sf0001, _))
  }

  test("once-cells: nested builds across threads do not deadlock") {
    // the shape that deadlocked two monitors: A builds `fam`, which
    // requests `m`, while B builds `ppl`, which requests `fam`
    val names = Seq("test_fam", "test_m", "test_ppl")
    names.foreach(Artifacts.drop(spark, Sf0001, _))
    val aIn = new CountDownLatch(1)
    val bIn = new CountDownLatch(1)
    def fam(): DataFrame = Artifacts.memo(spark, Sf0001, "test_fam") {
      aIn.countDown()
      assert(bIn.await(Timeout / 2, TimeUnit.SECONDS))
      Artifacts.memo(spark, Sf0001, "test_m")(spark.range(4).toDF("id"))
    }
    try {
      val got = onThreads(Seq(
        () => ids(fam()),
        () => ids(Artifacts.memo(spark, Sf0001, "test_ppl") {
          bIn.countDown()
          assert(aIn.await(Timeout / 2, TimeUnit.SECONDS))
          fam().filter("id % 2 = 0")
        })))
      assert(got === Seq(Right(Seq(0L, 1L, 2L, 3L)), Right(Seq(0L, 2L))))
    } finally names.foreach(Artifacts.drop(spark, Sf0001, _))
  }

  test("once-cells: a failed build reaches every waiter and is not cached") {
    val name = "test_failing_build"
    Artifacts.drop(spark, Sf0001, name)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val waiters = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    def call(): DataFrame = Artifacts.memo(spark, Sf0001, name) {
      if (builds.incrementAndGet() == 1) {
        // fail only once the three waiters are parked on this build
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(Timeout / 2)
        while (!(waiters.size == 3 &&
            waiters.asScala.forall(_.getState == Thread.State.WAITING)))
          if (System.nanoTime() > deadline) fail("waiters never parked")
          else Thread.sleep(10)
        throw new IllegalStateException("injected build failure")
      }
      spark.range(2).toDF("id")
    }
    try {
      val got = onThreads((() => call()) +: Seq.fill(3) { () =>
        while (builds.get == 0) Thread.sleep(5)
        waiters.add(Thread.currentThread())
        call()
      })
      assert(got.forall(_.left.exists(_.getMessage == "injected build failure")), got)
      assert(builds.get === 1)
      assert(ids(call()) === Seq(0L, 1L), "the next call must rebuild")
      assert(builds.get === 2)
    } finally Artifacts.drop(spark, Sf0001, name)
  }

  test("staged artifacts are keyed by the corpus: a rewritten table rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fp").toString
    val table = s"$dir/t.parquet"
    val name = "test_fingerprint"
    var builds = 0
    def stage(): Seq[Long] = ids(Artifacts.stage(spark, dir, name) {
      builds += 1
      spark.read.parquet(table)
    })
    try {
      spark.range(5).toDF("id").write.parquet(table)
      assert(stage() === (0L until 5L))
      assert(builds === 1)
      Artifacts.drop(spark, dir, name)
      assert(stage() === (0L until 5L))
      assert(builds === 1, "an unchanged corpus recovers from staging")
      spark.range(7).toDF("id").write.mode("overwrite").parquet(table)
      Artifacts.drop(spark, dir, name)
      assert(stage() === (0L until 7L), "stale staging recovered for a rewritten corpus")
      assert(builds === 2)
    } finally {
      Artifacts.drop(spark, dir, name)
      Artifacts.dropStaging(spark, dir)
    }
  }
}
