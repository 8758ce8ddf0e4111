package graft.operators

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** Session-memoized derived ARTIFACTS — expensive intermediates (the
  * MinHash near-dup pair graph, the KN models, the cleaned corpus)
  * that several queries consume. The first consumer builds the
  * artifact and every later consumer reads that one materialization,
  * instead of each re-running the pipeline over the corpus.
  *
  * Every artifact belongs to one of two declared classes, named by
  * the call site:
  *
  *  - BOUNDED ([[memo]]): pair- or type-bounded tables (near-dup
  *    pairs, cluster labels, top-k sheets, fitted vocabularies), small
  *    next to the corpus. Materialized by `localCheckpoint`; the
  *    blocks are PINNED, so `GraftSession.dropAllBlocks` skips them
  *    (a localCheckpointed RDD cannot recompute once its blocks drop).
  *  - STAGED ([[stage]]): corpus-co-scaled tables (cleaned corpus,
  *    per-doc fingerprints and scores, the unpruned KN models). Written
  *    as parquet under `spark.graft.artifacts.dir` (default: a
  *    per-application tmp dir) and read back: the intermediate-file
  *    boundary of the reference's mr framework (`mr/worker.go:104-120`
  *    writes map output to files so a lost worker's partitions are
  *    re-read, not re-mapped). A `stage` call after the registry entry
  *    is gone RECOVERS from the `_SUCCESS`-gated files instead of
  *    rebuilding. The staging path carries a fingerprint of the data
  *    dir's files (relative path, size, mtime), so a rewritten corpus
  *    is rebuilt, never recovered stale; [[dropStaging]] is the
  *    explicit invalidation.
  *
  * Registry contract:
  *  - Keyed by (session instance, data dir, artifact name): different
  *    sessions or scale factors never share an entry. A key holds a
  *    strong reference to its session, and every call first evicts
  *    the keys of sessions whose SparkContext has stopped.
  *  - Each key is a once-cell. The first caller builds on its OWN
  *    thread (Spark's thread-local job group keeps attributing the
  *    build's jobs to the query that triggered it); concurrent callers
  *    of the same key wait for that one build; different keys build
  *    concurrently. No lock is held while a build runs, so a build may
  *    request other artifacts: as long as artifacts depend on each
  *    other acyclically, no interleaving deadlocks.
  *  - A build that throws completes its cell with the error: every
  *    waiter sees it, nothing is cached, and the next call rebuilds.
  *  - Build cost is RECORDED per (dir, name): `buildSeconds` feeds
  *    Bench's `artifact:<name>` lines.
  */
object Artifacts {

  private final case class Key(session: SparkSession, dir: String, name: String)

  private final class Cell {
    val owner: Thread = Thread.currentThread()
    val result = new CompletableFuture[Any]()
    // set by memo before `result` completes; read by the block sweep
    @volatile var pinned: Option[RDD[InternalRow]] = None
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()
  // (dir, name) -> seconds spent in the build (or staging write) on miss
  private val buildSecs = new ConcurrentHashMap[(String, String), Double]()

  /** The PERSISTED rdd behind a localCheckpointed Dataset: its analyzed
    * plan is a LogicalRDD holding the checkpointed internal rows
    * (`df.rdd` would wrap it in a fresh, unpersisted deserializer RDD
    * whose id the block sweep never sees).
    */
  private def checkpointRdd(df: DataFrame): Option[RDD[InternalRow]] =
    org.apache.spark.sql.GraftSqlShim.analyzedPlan(df) match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Staging root of one data dir: under the conf-overridable root,
    * defaulting to a per-APPLICATION tmp dir (two concurrent
    * applications never share staging; two sessions of one application
    * do — they read the same corpus, and the parquet result is
    * deterministic).
    */
  private def dirRoot(spark: SparkSession, dir: String): String = {
    val root = spark.conf.get(
      "spark.graft.artifacts.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft-artifacts-${spark.sparkContext.applicationId}")
    s"$root/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}"
  }

  /** Hex digest of every file under `dir`: relative path, size and
    * mtime. Listed through the Hadoop FS API, so it holds for
    * hdfs:// and s3a:// data dirs as well as local ones.
    */
  private def fingerprint(spark: SparkSession, dir: String): String = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val prefix = fs.makeQualified(base).toUri.getPath.stripSuffix("/") + "/"
    val it = fs.listFiles(base, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map { f =>
      s"${f.getPath.toUri.getPath.stripPrefix(prefix)}\t${f.getLen}\t${f.getModificationTime}"
    }.toSeq.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(files.mkString("\n").getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  private def timed[T](dir: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    buildSecs.put((dir, name), (System.nanoTime() - t0) / 1e9)
    r
  }

  private def unpin(cell: Cell): Unit = cell.pinned.foreach(_.unpersist(blocking = false))

  private def evictStopped(): Unit =
    cells.keySet.asScala.filter(_.session.sparkContext.isStopped)
      .foreach(k => Option(cells.remove(k)).foreach(unpin))

  /** The once-cell under (session, dir, name): runs `build` on the
    * calling thread if the key is absent, otherwise waits for the
    * build in flight (or returns its result).
    */
  private def cell[T](spark: SparkSession, dir: String, name: String)(build: Cell => T): T = {
    evictStopped()
    val key = Key(spark, dir, name)
    val mine = new Cell
    val c = Option(cells.putIfAbsent(key, mine)).getOrElse(mine)
    if (c eq mine) {
      try mine.result.complete(build(mine))
      catch {
        case e: Throwable =>
          cells.remove(key, mine)
          mine.result.completeExceptionally(e)
      }
    } else if ((c.owner eq Thread.currentThread()) && !c.result.isDone)
      throw new IllegalStateException(s"artifact $name requested inside its own build")
    try c.result.get().asInstanceOf[T]
    catch { case e: ExecutionException => throw e.getCause }
  }

  /** A plain once-cell for a value composed of other artifacts (the KN
    * family's five tables off one shared ladder): not pinned, not
    * staged, no build-time record of its own.
    */
  def once[T](spark: SparkSession, dir: String, name: String)(build: => T): T =
    cell(spark, dir, name)(_ => build)

  /** BOUNDED artifact: `localCheckpoint` on first call, pinned against
    * the block sweep; later calls return the materialized frame.
    */
  def memo(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    cell(spark, dir, name) { c =>
      val df = timed(dir, name)(build.localCheckpoint())
      c.pinned = checkpointRdd(df)
      df
    }

  /** STAGED artifact: parquet under the staging root, keyed by the
    * data dir's fingerprint; a `_SUCCESS`-marked staging is recovered
    * instead of rebuilt.
    */
  def stage(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    cell(spark, dir, name) { _ =>
      val path = s"${dirRoot(spark, dir)}/${fingerprint(spark, dir)}/$name"
      // Probe through the Hadoop FS API, not java.io.File: the staging
      // dir may be hdfs:///s3a://, where a local-File probe is always
      // false and every call would silently rebuild.
      val success = new Path(path, "_SUCCESS")
      val fs = success.getFileSystem(spark.sessionState.newHadoopConf())
      val staged =
        try fs.getFileStatus(success).isFile
        catch { case _: java.io.FileNotFoundException => false }
      if (!staged) timed(dir, name)(build.write.mode("overwrite").parquet(path))
      spark.read.parquet(path)
    }

  /** Is this RDD id a pinned artifact? (Consulted by the block sweep.) */
  def isPinned(rddId: Int): Boolean =
    cells.values.asScala.exists(_.pinned.exists(_.id == rddId))

  /** Measured build (or staging-write) seconds per artifact name for
    * one data dir — Bench emits these as `artifact:<name>` lines so
    * the workload's most expensive pass is visible instead of
    * vanishing into a min-of-N first run.
    */
  def buildSeconds(dir: String): Map[String, Double] =
    buildSecs.asScala.collect { case ((d, n), s) if d == dir => n -> s }.toMap

  /** Drop ONE artifact's registry entry and pinned blocks — the
    * targeted invalidation: the recovery spec uses it to simulate
    * losing the in-memory registry without touching other artifacts a
    * concurrently-running consumer may hold. Staged files survive
    * (recovery path); [[dropStaging]] removes those. A [[once]] cell
    * built from this artifact keeps the frame it returned.
    */
  def drop(spark: SparkSession, dir: String, name: String): Unit =
    Option(cells.remove(Key(spark, dir, name))).foreach(unpin)

  /** Drop every artifact's registry entry and pinned blocks (tests /
    * explicit teardown). Staged files survive on purpose — that IS the
    * recovery path; use [[dropStaging]] to invalidate them.
    */
  def clear(): Unit = {
    cells.keySet.asScala.foreach(k => Option(cells.remove(k)).foreach(unpin))
    buildSecs.clear()
  }

  /** Delete one artifact's staged files under every fingerprint (or,
    * with name=None, everything staged for the dir).
    */
  def dropStaging(spark: SparkSession, dir: String, name: Option[String] = None): Unit = {
    // Same FS-API discipline as the _SUCCESS probe: a java.io recursive
    // delete is a silent no-op on hdfs:///s3a:// staging roots.
    val root = new Path(dirRoot(spark, dir))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    name match {
      case Some(n) =>
        Option(fs.globStatus(new Path(root, s"*/$n"))).toSeq.flatten
          .foreach(s => fs.delete(s.getPath, true))
      case None => if (fs.exists(root)) fs.delete(root, true): Unit
    }
  }
}
