package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.{HashPartitioner, Partitioner, SerializableWritable, TaskContext}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fnv1a

/** Generic MapReduce-on-Spark kernel: capability parity with the
  * reference's fixed dataflow (SURVEY.md §2A, F1–F12).
  *
  * Reference pipeline (`mr/worker.go`): whole-file scan (F1) → user map
  * (F2) → FNV-1a hash partition into nReduce buckets (F3) → JSON
  * intermediate files (F4) → per-partition sort (F5) → adjacency
  * group + user reduce (F6; a `Combiner` app also combines map-side, §4.3
  * of the MapReduce paper) → text sink `"key value\n"` in `mr-out-R` (F7).
  * Scheduling, retry, the map→reduce barrier, completion tracking, the
  * intermediate-file registry and the RPC transport (F8–F12) are Spark
  * internals here: the DAG scheduler cuts a stage at the shuffle,
  * `spark.task.maxFailures` + lineage replace the 10 s
  * deadline/re-enqueue watcher (`mr/coordinator_watcher.go:5-53`), and
  * the shuffle service's exactly-once commit removes the reference's
  * duplicate-intermediate-file hazard (`mr/notify_intermediate_file.go:6`).
  *
  * Scale notes (100 TB): the scan is one task per file (unsplittable
  * whole-file semantics — same granularity as the reference, F1); the
  * only shuffle groups by hash in Spark's spillable ExternalAppendOnlyMap:
  * no sort, and a reduce partition need not fit in memory (the reference
  * loads + sorts it all, `mr/worker.go:40-58` — its OOM ceiling). One
  * key's values must fit in memory, as `reduce(key, values: Seq[String])`
  * and the reference already require.
  */
object Engine {

  /** F1: whole-file scan. One row per file: (fileName, contents).
    * `binaryFile` gives (path, content) with one partition per file for
    * files below maxPartitionBytes — the same task granularity as the
    * reference's one-map-task-per-file (`mr/types.go:19-22`).
    */
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
    * reuse the same dataflow. The result is backed by one RDD shuffle: a
    * second action on it (e.g. `writeText` after a count) reuses the
    * shuffle output and runs only the reduce stage.
    */
  def mapReduce(
      spark: SparkSession,
      input: Dataset[(String, String)],
      app: MrApp
  ): Dataset[KeyValue] = {
    import spark.implicits._
    // F3: nReduce is the session's spark.sql.shuffle.partitions, and AQE
    // cannot coalesce an RDD shuffle; writeText carries the explicit
    // nReduce for output bucket parity. Per-key results are partition-
    // invariant (see Fnv1a scaladoc).
    val nReduce = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // F2 map, combined per map call for a Combiner; F5+F6 hash-group (no sort) and fold with the
    // user reduce. Value order is unspecified, as in the reference (`mr/worker.go:58` sorts keys only)
    val reduced = input.rdd
      .flatMap { case (file, contents) =>
        val out = app.map(file, contents)
        app match {
          case c: Combiner =>
            val groups = new java.util.HashMap[String, List[String]]()
            out.foreach(kv => groups.merge(kv.key, kv.value :: Nil, (vs, v) => v.head :: vs))
            groups.asScala.iterator.map { case (k, vs) => (k, c.combine(k, vs)) }
          case _ => out.iterator.map(kv => (kv.key, kv.value))
        }
      }
      .groupByKey(nReduce)
      .map { case (key, values) => KeyValue(key, app.reduce(key, values.toSeq)) }
    spark.createDataset(reduced)
  }

  /** F7: text sink — `"%v %v\n"`-formatted lines in nReduce files, with
    * the reference's FNV-1a bucket assignment (`mr-out-R` parity:
    * which key lands in which output partition matches
    * `utils.Ihash(key) % nReduce`, `mr/worker.go:60-74,129`).
    *
    * Uses an explicit RDD Partitioner: `Dataset.repartition(n, expr)`
    * re-hashes the expression with Murmur3, so it cannot pin a row to
    * the partition the expression names — a custom partitioner is the
    * one place the RDD API is genuinely required.
    *
    * Commit as the reference's reduce does (temp file, then rename,
    * `mr/worker.go:60-74`): each task attempt writes its bucket, empty or
    * not, to its own `_temporary/mr-out-<r>-<attempt>`; the driver renames
    * the attempts `runJob` returns, deletes `_temporary`, then writes
    * `_SUCCESS`: retries are safe, and `spark.speculation` (off in
    * `GraftSession`) could leave strays only until `_temporary` goes.
    */
  def writeText(result: Dataset[KeyValue], outDir: String, nReduce: Int = 10): Unit = {
    val sc = result.sparkSession.sparkContext
    val fs = new Path(outDir).getFileSystem(sc.hadoopConfiguration)
    val path = fs.makeQualified(new Path(outDir)) // tasks and driver name the same files
    if (fs.exists(path)) fs.delete(path, true)
    val conf = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))
    // Composite (bucket, key) shuffle key + repartitionAndSortWithin-
    // Partitions: the sort runs in Spark's spillable ExternalSorter, so
    // a reduce partition never has to fit in heap (an in-memory
    // toArray.sortBy here would re-introduce the reference's OOM
    // ceiling that the scaladoc above claims to remove).
    val buckets = result.rdd
      .map(kv => ((Fnv1a.hash(kv.key) % nReduce, kv.key), kv.value))
      .repartitionAndSortWithinPartitions(new Partitioner {
        override def numPartitions: Int = nReduce
        override def getPartition(key: Any): Int = key.asInstanceOf[(Int, String)]._1
      })
    val written = sc.runJob(buckets, (ctx: TaskContext, rows: Iterator[((Int, String), String)]) => {
      val file = new Path(path, s"_temporary/mr-out-${ctx.partitionId()}-${ctx.taskAttemptId()}")
      val out = file.getFileSystem(conf.value.value).create(file, false)
      val line = new org.apache.hadoop.io.Text() // the bytes TextOutputFormat writes
      try rows.foreach { case ((_, key), value) =>
        line.set(s"$key $value\n")
        out.write(line.getBytes, 0, line.getLength)
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
