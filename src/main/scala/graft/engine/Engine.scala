package graft.engine

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel


/** Generic MapReduce-on-Spark kernel: capability parity with the
  * reference's fixed dataflow (SURVEY.md §2A, F1–F12).
  *
  * Reference pipeline (`mr/worker.go`): whole-file scan (F1) → user map
  * (F2) → FNV-1a hash partition into nReduce buckets (F3) → JSON
  * intermediate files (F4) → per-partition sort (F5) → adjacency
  * group + user reduce (F6; a `Combiner` app also combines map-side, §4.3
  * of the MapReduce paper) → text sink `"key value\n"` in `mr-out-R` (F7).
  * `writeText(run(...))` plans that as the reference does: one shuffle to
  * the FNV-1a buckets, and each reduce task sorts, folds and writes its own
  * `mr-out-R` (`mr/worker.go:39-79`), so a job is two stages.
  * Scheduling, retry, the map→reduce barrier, completion tracking, the
  * intermediate-file registry and the RPC transport (F8–F12) are Spark
  * internals here: the DAG scheduler cuts a stage at the shuffle,
  * `spark.task.maxFailures` + lineage replace the 10 s
  * deadline/re-enqueue watcher (`mr/coordinator_watcher.go:5-53`), and
  * the shuffle service's exactly-once commit removes the reference's
  * duplicate-intermediate-file hazard (`mr/notify_intermediate_file.go:6`).
  *
  * Scale notes: shuffles carry `UnsafeRow`s, sorted in Spark's spillable
  * `UnsafeExternalSorter`: a reduce partition need not fit in memory (the
  * reference loads + sorts it all, `mr/worker.go:40-58`).
  * One key's values must, as `reduce(key, values: Seq[String])` and the
  * reference require. The scan never splits a file (F1).
  */
object Engine {

  /** F1: whole-file scan. One row per file: (fileName, contents).
    * `binaryFile` never splits a file, but packs files into scan tasks
    * by size plus `spark.sql.files.openCostInBytes`: small files share a
    * task, and the largest is alone in its own, as every file is in the
    * reference (`mr/types.go:19-22`). */
  def scanWholeFiles(spark: SparkSession, inputGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read
      .format("binaryFile")
      .load(inputGlob)
      .select(
        // The reference passes the bare file path as `filename`
        // (`mr/worker.go:98`); strip the `file:` URI scheme for parity.
        regexp_replace(col("path"), "^file:", "").as("file"),
        col("content").cast("string").as("contents")
      )
      .as[(String, String)]
  }

  /** F1–F6: run an app over an input glob, returning the reduced
    * key/value dataset (one row per distinct key).
    */
  def run(spark: SparkSession, inputGlob: String, app: MrApp): Dataset[KeyValue] =
    mapReduce(spark, scanWholeFiles(spark, inputGlob), app)

  /** The kernel on an arbitrary (file, contents) dataset — lets tests
    * and table-backed callers (e.g. the `documents` table as a corpus)
    * reuse the same dataflow. Building it runs no Spark job, and each
    * action on the result plans its own query, map stage included.
    * `writeText` plans an unmodified result as one job (see there).
    */
  def mapReduce(
      spark: SparkSession,
      input: Dataset[(String, String)],
      app: MrApp
  ): Dataset[KeyValue] = {
    import spark.implicits._
    val mapped = input.flatMap { case (file, contents) => // F2 map, combined per map call for a Combiner
      val out = app.map(file, contents)
      app match {
        case c: Combiner =>
          val groups = new java.util.HashMap[String, ArrayBuffer[String]]()
          out.foreach(kv => groups.computeIfAbsent(kv.key, _ => ArrayBuffer.empty) += kv.value)
          groups.asScala.iterator.map { case (k, vs) => KeyValue(k, c.combine(k, ArraySeq.from(vs))) }
        case _ => out
      }
    }
    // F3: nReduce is the session's spark.sql.shuffle.partitions, a count AQE never coalesces (writeText
    // carries its own for bucket parity); per-key results are partition-invariant (see Fnv1a scaladoc).
    val nReduce = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val result = mapped
      .repartition(nReduce, col("key"))
      .sortWithinPartitions("key")
      .mapPartitions(reduceRuns(app))
    result.queryExecution.logical.setTagValue(MapSide, (mapped, app))
    result
  }

  /** The map output and app behind a `mapReduce` result, tagged on its
    * unanalyzed plan. A derived Dataset (`filter`, `select`, ...) has a
    * new root node, so it carries no tag. */
  private val MapSide = TreeNodeTag[(Dataset[KeyValue], MrApp)]("graft.engine.mapSide")

  /** F5+F6: fold each run of equal keys in key-sorted rows with the user
    * reduce. Value order is unspecified, as in the reference
    * (`mr/worker.go:58` sorts keys only). */
  private def reduceRuns(app: MrApp)(rows: Iterator[KeyValue]): Iterator[KeyValue] = {
    val it = rows.buffered
    Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
      val key = it.head.key
      val values = ArrayBuffer.empty[String]
      while (it.hasNext && it.head.key == key) values += it.next().value
      KeyValue(key, app.reduce(key, ArraySeq.from(values)))
    }
  }

  /** F7: text sink — `"%v %v\n"`-formatted lines in nReduce files, with
    * the reference's FNV-1a bucket assignment (`mr-out-R` parity:
    * which key lands in which output partition matches
    * `utils.Ihash(key) % nReduce`, `mr/worker.go:60-74,129`; `repartitionById`
    * pins each row to its bucket's partition), each file sorted by the key's
    * UTF-8 bytes, Go's `sort.Sort(ByKey)` order.
    *
    * Input: an unmodified, unpersisted `mapReduce`/`run` result is fused
    * with its job, as the reference's reduce task does
    * (`mr/worker.go:39-79`): the map output is shuffled straight to the
    * buckets, and each task sorts its bucket, folds its runs of equal keys
    * with the app's reduce and writes the lines: one shuffle, two stages.
    * Any other Dataset (a test's rows, a derived `filter` or `select` of a
    * result, a persisted result) is shuffled to the buckets and sorted as
    * it is.
    *
    * Commit as the reference's reduce does (temp file, then rename,
    * `mr/worker.go:60-74`): each task attempt writes its bucket, empty or
    * not, to its own `_temporary/mr-out-<r>-<attempt>`; the driver renames
    * the attempts `runJob` returns, deletes `_temporary`, then writes
    * `_SUCCESS`: retries are safe, and `spark.speculation` (off in
    * `GraftSession`) could leave strays only until `_temporary` goes.
    */
  def writeText(result: Dataset[KeyValue], outDir: String, nReduce: Int = 10): Unit = {
    import result.sparkSession.implicits._
    val sc = result.sparkSession.sparkContext
    val fs = new Path(outDir).getFileSystem(sc.hadoopConfiguration)
    val path = fs.makeQualified(new Path(outDir)) // tasks and driver name the same files
    if (fs.exists(path)) fs.delete(path, true)
    val conf = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))
    def bucketed(rows: Dataset[KeyValue]) =
      rows.repartitionById(nReduce, call_function("fnv1a", col("key")) % nReduce).sortWithinPartitions("key")
    val fused = result.queryExecution.logical.getTagValue(MapSide)
      .filter(_ => result.storageLevel == StorageLevel.NONE) // a persisted result is read from its cache
    val buckets = (fused match {
      case Some((mapped, app)) => bucketed(mapped).mapPartitions(reduceRuns(app))
      case None => bucketed(result.select("key", "value").as[KeyValue])
    }).queryExecution.toRdd
    require(buckets.getNumPartitions == nReduce, // one task, so one mr-out-r, per bucket
      s"sink has ${buckets.getNumPartitions} partitions, not nReduce = $nReduce")
    val written = sc.runJob(buckets, (ctx: TaskContext, rows: Iterator[InternalRow]) => {
      val file = new Path(path, s"_temporary/mr-out-${ctx.partitionId()}-${ctx.taskAttemptId()}")
      val out = file.getFileSystem(conf.value.value).create(file, false)
      try rows.foreach { row => // (key, value) as UTF-8, the bytes of "key value\n"
        row.getUTF8String(0).writeTo(out)
        out.write(' ')
        row.getUTF8String(1).writeTo(out)
        out.write('\n')
      } finally out.close()
      file.toString
    })
    for ((file, r) <- written.zipWithIndex)
      require(fs.rename(new Path(file), new Path(path, s"mr-out-$r")), s"could not commit $file")
    fs.delete(new Path(path, "_temporary"), true)
    fs.create(new Path(path, "_SUCCESS")).close()
  }

  /** Sequential-oracle twin of `mapReduce` (mirrors
    * `mr_sequential.go:41-89`): in-memory, single-threaded, sorted by
    * key. Used by differential tests exactly as `test-mr.sh:84-86` uses
    * the sequential binary.
    */
  def sequential(files: Seq[(String, String)], app: MrApp): Seq[KeyValue] = {
    val intermediate = files.flatMap { case (f, c) => app.map(f, c) }
    intermediate
      .groupBy(_.key)
      .toSeq
      .sortBy(_._1)
      .map { case (k, kvs) => KeyValue(k, app.reduce(k, kvs.map(_.value))) }
  }
}
