package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the Engine.writeText sink — the
  * reference's reduce-output layout (`mr-out-N` per reduce bucket,
  * `key value` lines, keys sorted within a file; reference
  * `mr/worker.go:129-141`, `test-mr.sh:60-66`) exposed as a proper
  * table with schema `(bucket INT, key STRING, value STRING)`.
  *
  * The point at scale: the sink's FNV-bucket layout IS a partitioning
  * scheme, and this source makes Spark exploit it —
  *   - **file pruning**: `bucket = 3` (or IN (...)) is pushed down and
  *     prunes input partitions to the named files only; a key-routed
  *     lookup touches 1/nReduce of the bytes (the same contract
  *     Hive-style partition dirs give parquet scans);
  *   - **column pruning**: a `select(key)` never materializes values;
  *   - one input partition per bucket file, so parallelism = nReduce
  *     with zero shuffle on read.
  * Both prunings are asserted in EngineSpec (partition counts, not
  * just plan text).
  *
  * Usage: `spark.read.format("graft.sources.MrTextSource")
  *   .option("path", dir).load()`.
  */
class MrTextSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MrTextSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new MrTextTable(properties.get("path"))
}

object MrTextSource {
  val Schema: StructType = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = true)
  ))

  /** Bucket files of a sink dir: the reference batch layout
    * (`mr-out-3`, also what Engine.writeText and the batch sink emit),
    * the Hadoop-committer layout (`part-00003`), and the
    * streaming-epoch layout (`part-00003-00007`, bucket-task) all
    * parse by the leading digit run after the prefix.
    */
  private[sources] def listBucketFiles(dir: String): Seq[(String, Int)] =
    listBucketFilesWithSize(dir).map { case (f, b, _) => (f, b) }

  /** Same listing with each file's length carried from the ONE
    * `listStatus` call — the statistics path must not pay a
    * getFileStatus round-trip per file per planning pass.
    */
  private[sources] def listBucketFilesWithSize(dir: String): Seq[(String, Int, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    val BucketName = "(?:part|mr-out)-(\\d+).*".r
    fs.listStatus(p)
      .iterator
      .flatMap(st =>
        st.getPath.getName match {
          case BucketName(b) => Some((st.getPath.toString, b.toInt, st.getLen))
          case _ => None
        })
      .toSeq
  }

  /** Test-only observability: the most recent runtime-filter prune as
    * (files before, files kept) — EngineSpec asserts DPP actually
    * dropped files, not just rows. Deliberately a single global slot:
    * it is sound only while pruned queries run SEQUENTIALLY (the spec
    * resets it, runs one query, reads it); concurrent queries over
    * different sinks would race on it. Production code never reads
    * this — per-scan scoping would buy nothing but plumbing.
    */
  @volatile private[graft] var lastRuntimePrune: Option[(Int, Int)] = None

  /** Convenience writer: KeyValue dataset → reference sink layout via
    * the declarative write path (bucket computed with the same FNV-1a
    * codegen expression the engine uses everywhere).
    */
  def write(
      ds: org.apache.spark.sql.Dataset[graft.engine.KeyValue],
      outDir: String,
      nReduce: Int = 10
  ): Unit = {
    import org.apache.spark.sql.functions._
    ds.select(
      expr(s"CAST(fnv1a(key) % $nReduce AS INT)").as("bucket"),
      col("key"),
      col("value")
    )
      .write
      .format("graft.sources.MrTextSource")
      .option("path", outDir)
      .option("nreduce", nReduce.toString)
      .mode("overwrite")
      .save()
  }
}

private[sources] class MrTextTable(path: String) extends Table with SupportsRead with SupportsWrite {
  require(path != null, "MrTextSource requires .option(\"path\", <dir>)")
  override def name(): String = s"mrtext:$path"
  override def schema(): StructType = MrTextSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MrTextScanBuilder(path, Option(options.get("nreduce")).map(_.toInt))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MrTextWriteBuilder(path, info)
}

private[sources] class MrTextScanBuilder(path: String, nReduce: Option[Int])
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var buckets: Option[Set[Int]] = None // None = no bucket predicate
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = MrTextSource.Schema
  private var aggFuncs: Option[Seq[String]] = None // "min" | "max" over key, in order

  /** bucket == file index exactly, so an accepted bucket filter needs
    * NO residual re-evaluation: only the unsupported rest is returned.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, rest) = filters.partition {
      case EqualTo("bucket", _: Int) => true
      case In("bucket", vs) => vs.forall(_.isInstanceOf[Int])
      case _ => false
    }
    val sets = sup.map {
      case EqualTo("bucket", v: Int) => Set(v)
      case In("bucket", vs) => vs.map(_.asInstanceOf[Int]).toSet
      case f => sys.error(s"unreachable: $f")
    }
    if (sets.nonEmpty) {
      val merged = sets.reduce(_ intersect _)
      buckets = Some(buckets.fold(merged)(_ intersect merged))
    }
    pushed = sup
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** MIN(key)/MAX(key) answered from the sink's SORT INVARIANT: keys
    * are sorted within every bucket file (F5 parity), so a file's min
    * key is its first line and its max key its last — the scan reads
    * two lines per file instead of the file. Partial pushdown: each
    * file contributes one (min, max) row and Spark's final aggregate
    * merges across files (and across whatever bucket subset the
    * pushed filters left alive — file pruning composes). This is the
    * same trick a parquet footer-stats scan plays, earned here by the
    * writer's declared ordering.
    */
  override def supportCompletePushDown(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false // per-file partials; Spark merges

  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
    if (aggregation.groupByExpressions.nonEmpty) return false
    def keyRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean = e match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq("key")
      case _ => false
    }
    val funcs = aggregation.aggregateExpressions.toSeq.map {
      case m: Min if keyRef(m.column) => Some("min")
      case m: Max if keyRef(m.column) => Some("max")
      case _ => None
    }
    if (funcs.exists(_.isEmpty)) false
    else {
      aggFuncs = Some(funcs.flatten)
      true
    }
  }

  override def build(): Scan = aggFuncs match {
    case Some(funcs) => new MrTextAggScan(path, buckets, funcs)
    case None => new MrTextScan(path, buckets, required, nReduce)
  }
}

/** The pushed-aggregate scan: one partition per surviving file; each
  * emits a single row of per-file (min/max key) partials read from
  * the file's first and last lines only.
  */
private[sources] class MrTextAggScan(path: String, buckets: Option[Set[Int]], funcs: Seq[String])
    extends Scan
    with Batch {
  override def readSchema(): StructType =
    StructType(funcs.zipWithIndex.map { case (f, i) => StructField(s"${f}_$i", StringType) })
  override def toBatch: Batch = this
  override def description(): String = s"MrTextAggScan(path=$path, funcs=${funcs.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] =
    MrTextSource
      .listBucketFiles(path)
      .filter { case (_, b) => buckets.forall(_.contains(b)) }
      .map { case (f, b) => MrTextPartition(f, b): InputPartition }
      .toArray

  override def createReaderFactory(): PartitionReaderFactory = new MrTextAggReaderFactory(funcs)
}

private[sources] class MrTextAggReaderFactory(funcs: Seq[String])
    extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val file = partition.asInstanceOf[MrTextPartition].file
      new PartitionReader[InternalRow] {
        private var done = false
        private var row: InternalRow = _

        private def keyOf(line: String): UTF8String = {
          val sp = line.indexOf(' ')
          UTF8String.fromString(if (sp < 0) line else line.substring(0, sp))
        }

        override def next(): Boolean = {
          if (done) return false
          done = true
          val p = new Path(file)
          val fs = p.getFileSystem(new Configuration())
          val len = fs.getFileStatus(p).getLen
          if (len == 0) return false // empty bucket: no partial row
          val in = fs.open(p)
          try {
            // first line = min key (per-file sort invariant)
            val head = new java.io.BufferedReader(
              new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
            val first = head.readLine()
            // last line = max key, via a tail read that GROWS until the
            // window provably contains the whole final line — a fixed
            // 64 KB cut could start mid-line (long values are legal
            // sink data) or mid-UTF-8-character and silently return a
            // fragment as MAX(key). Starting just after a '\n' byte is
            // always a character boundary, so finding one fixes both.
            var window = math.min(len, 64 * 1024L)
            var last: String = null
            while (last == null) {
              val start = len - window
              val buf = new Array[Byte](window.toInt)
              in.readFully(start, buf, 0, window.toInt)
              var end = buf.length // trim the file's trailing newline(s)
              while (end > 0 && buf(end - 1) == '\n') end -= 1
              var i = end - 1 // last '\n' strictly before the final line
              while (i >= 0 && buf(i) != '\n') i -= 1
              if (i >= 0)
                last = new String(buf, i + 1, end - (i + 1),
                  java.nio.charset.StandardCharsets.UTF_8)
              else if (start == 0L) // whole file in window: single line
                last = new String(buf, 0, end, java.nio.charset.StandardCharsets.UTF_8)
              else window = math.min(len, window * 2)
            }
            val mn = keyOf(first)
            val mx = keyOf(last)
            row = new GenericInternalRow(
              funcs.map(f => (if (f == "min") mn else mx): Any).toArray)
            true
          } finally in.close()
        }

        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
    }
  }

/** The row scan, with DSv2 RUNTIME filtering — the dynamic-partition-
  * pruning analog for the reference's bucket layout: when this scan
  * sits on the probe side of an equi-join, Spark hands it the build
  * side's join-key values at execution time (`SupportsRuntimeFiltering
  * .filter`), and whole bucket FILES whose FNV bucket cannot contain
  * any of those keys are dropped before a byte is read. `bucket` is
  * prunable directly (bucket == file index); `key` is prunable iff the
  * reader declared the writer's bucket count via `.option("nreduce",
  * N)` — the same trust contract as Spark's own bucketed tables,
  * where lying metadata is a correctness bug. A declared N smaller
  * than an observed file index is rejected at plan time (the layout
  * contradicts the declaration), never silently mis-pruned. At 100 TB
  * this is the difference between a star-join reading one bucket file
  * per dim key and reading the whole fact sink.
  */
private[sources] class MrTextScan(
    path: String,
    buckets: Option[Set[Int]],
    required: StructType,
    nReduce: Option[Int] = None)
    extends Scan
    with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"MrTextScan(path=$path, buckets=${buckets.map(_.toSeq.sorted.mkString(",")).getOrElse("*")})"

  @volatile private var runtimeBuckets: Option[Set[Int]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    // only columns that SURVIVED pruning: Spark resolves these against
    // the scan's output, so advertising a pruned-away column is an
    // analysis error, not a no-op
    val out = required.fieldNames.toSet
    (Seq("bucket").filter(out) ++ Seq("key").filter(k => out(k) && nReduce.isDefined))
      .map(Expressions.column).toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    // Pruning is OPTIONAL but must never drop data: a filter whose
    // values don't all match the expected JVM type is skipped whole
    // (the same refusal pushFilters makes with its forall guard) —
    // a partial collect would shrink the bucket set, possibly to
    // empty, and silently return no rows.
    def keyBuckets(keys: Array[Any]): Option[Set[Int]] = nReduce.flatMap { n =>
      if (keys.forall(_.isInstanceOf[String]))
        Some(keys.map(k => graft.functions.Fnv1a.hash(k.asInstanceOf[String]) % n).toSet)
      else None
    }
    val sets = filters.flatMap {
      case In("bucket", vs) if vs.forall(_.isInstanceOf[Int]) =>
        Some(vs.map(_.asInstanceOf[Int]).toSet)
      case EqualTo("bucket", v: Int) => Some(Set(v))
      case In("key", vs) => keyBuckets(vs)
      case EqualTo("key", v: String) => keyBuckets(Array(v))
      case _ => None // unrecognized runtime filter: ignore, don't prune
    }
    if (sets.nonEmpty) {
      val merged = sets.reduce(_ intersect _)
      runtimeBuckets = Some(runtimeBuckets.fold(merged)(_ intersect merged))
    }
  }

  /** The FULL layout listing, validated against the declared bucket
    * count BEFORE any static bucket filter narrows it — a too-small
    * `nreduce` must fail even when the contradicting file happens to
    * be outside the statically pruned subset, because runtime KEY
    * pruning maps keys with the declared modulus over the whole sink.
    */
  private def validatedFiles(): Seq[(String, Int, Long)] = {
    val all = MrTextSource.listBucketFilesWithSize(path)
    nReduce.foreach { n =>
      val bad = all.filter(_._2 >= n)
      require(bad.isEmpty,
        s"nreduce=$n contradicts bucket files ${bad.map(_._2).sorted.mkString(",")} in $path")
    }
    all.filter { case (_, b, _) => buckets.forall(_.contains(b)) }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val all = validatedFiles()
    val kept = all.filter { case (_, b, _) => runtimeBuckets.forall(_.contains(b)) }
    if (runtimeBuckets.isDefined) {
      MrTextSource.lastRuntimePrune = Some((all.size, kept.size))
    }
    kept
      .map { case (f, b, _) => MrTextPartition(f, b): InputPartition }
      .toArray
      .sortBy(_.asInstanceOf[MrTextPartition].bucket)
  }

  override def createReaderFactory(): PartitionReaderFactory = new MrTextReaderFactory(required)

  /** Real size statistics from the surviving bucket files, so
    * Catalyst's join planning sees the actual bytes instead of the
    * defaultSizeInBytes "assume huge" fallback — a small mr-out sink
    * on the build side of a join now broadcasts like any parquet
    * table would. Composes with pushed bucket filters: a
    * bucket-pruned scan reports only the surviving files' bytes
    * (the same contract as parquet partition pruning feeding stats).
    * Sizes come from the directory listing itself — no per-file
    * getFileStatus round-trips on the planning path.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val total = MrTextSource
      .listBucketFilesWithSize(path)
      .filter { case (_, b, _) => buckets.forall(_.contains(b)) }
      .map(_._3)
      .sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
}

private[sources] case class MrTextPartition(file: String, bucket: Int) extends InputPartition

/** The write path — the sink layout as a DECLARED contract instead of
  * hand-rolled RDD code: this Write tells Spark it requires the data
  * CLUSTERED by `bucket` and SORTED by (bucket, key)
  * (`RequiresDistributionAndOrdering`), and the planner inserts the
  * shuffle + spillable sort itself — the declarative twin of
  * Engine.writeText's generic path (`repartitionById` +
  * `sortWithinPartitions` over the rows as given), with the same
  * no-in-heap-materialization property at scale. It writes the rows it
  * is given: unlike writeText on an `Engine.run` result, it cannot fold
  * a job's reduce into its write tasks, so a job written here shuffles
  * twice (reduce, then buckets). Each task then
  * streams contiguous bucket runs into `mr-out-<bucket>` files (the
  * reference's own names, mr/worker.go:60-61); the
  * driver commit fills in empty buckets ([0, nreduce)) and `_SUCCESS`,
  * reproducing the reference layout byte-for-byte (asserted in
  * EngineSpec against Engine.writeText's own output).
  *
  * Overwrite mode maps to TRUNCATE: existing files are removed on the
  * driver before tasks launch. Task abort best-effort deletes the
  * task's own files (bucket-unique names make that safe: a bucket is
  * written by exactly one task under the clustered distribution).
  */
private[sources] class MrTextWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val s = info.schema()
    require(
      s.fieldNames.toSet == Set("bucket", "key", "value"),
      s"MrTextSource writes (bucket, key, value); got ${s.fieldNames.mkString(",")}")
    val nReduce = Option(info.options.get("nreduce")).map(_.toInt).getOrElse(10)
    new MrTextWrite(path, s, nReduce, doTruncate)
  }
}

private[sources] class MrTextWrite(path: String, schema: StructType, nReduce: Int, truncate: Boolean)
    extends Write
    with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("bucket")))
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("bucket"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING)
  )

  /** Streaming sink: every micro-batch lands as its OWN complete sink
    * snapshot under `path/epoch=<id>/` — bucket files named
    * `part-<bucket>-<writerPartition>` (the reader's digit-prefix
    * parse accepts both layouts, so any epoch dir is directly readable
    * by MrTextSource). Exactly-once comes from epoch idempotency: a
    * replayed epoch finds its `_SUCCESS` already present and commit is
    * a no-op; an aborted epoch's files are best-effort removed and the
    * epoch re-executes. Unlike the batch path, a streaming task keeps
    * one open writer per bucket it sees (<= nReduce) instead of
    * assuming bucket-contiguous input — micro-batch plans don't carry
    * the clustered-distribution guarantee.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo
      ): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
        new MrTextStreamingWriterFactory(path, schema)

      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
        val dir = new Path(new Path(path), s"epoch=$epochId")
        val fs = dir.getFileSystem(new Configuration())
        val marker = new Path(dir, "_SUCCESS")
        if (!fs.exists(marker)) { fs.mkdirs(dir); fs.create(marker, true).close() }
      }

      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
        val dir = new Path(new Path(path), s"epoch=$epochId")
        val fs = dir.getFileSystem(new Configuration())
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
      val p = new Path(path)
      val fs = p.getFileSystem(new Configuration())
      if (truncate && fs.exists(p)) fs.delete(p, true)
      fs.mkdirs(p)
      new MrTextWriterFactory(path, schema)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val written = messages.collect { case MrTextCommit(bs) => bs }.flatten.toSet
      val p = new Path(path)
      val fs = p.getFileSystem(new Configuration())
      // the reference sink materializes EVERY reduce bucket, empty ones
      // included (mr-out-N exists for all N) — reproduce that
      (0 until nReduce).filterNot(written).foreach { b =>
        fs.create(new Path(p, s"mr-out-$b"), true).close()
      }
      fs.create(new Path(p, "_SUCCESS"), true).close()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val p = new Path(path)
      val fs = p.getFileSystem(new Configuration())
      messages.collect { case MrTextCommit(bs) => bs }.flatten.foreach { b =>
        fs.delete(new Path(p, s"mr-out-$b"), false)
      }
    }
  }
}

private[sources] case class MrTextCommit(buckets: Seq[Int]) extends WriterCommitMessage

private[sources] class MrTextStreamingWriterFactory(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    val iBucket = schema.fieldIndex("bucket")
    val iKey = schema.fieldIndex("key")
    val iValue = schema.fieldIndex("value")
    new DataWriter[InternalRow] {
      private val dir = new Path(new Path(path), s"epoch=$epochId")
      private val fs = dir.getFileSystem(new Configuration())
      fs.mkdirs(dir)
      private val open = scala.collection.mutable.Map[Int, java.io.BufferedWriter]()

      override def write(row: InternalRow): Unit = {
        val b = row.getInt(iBucket)
        val out = open.getOrElseUpdate(
          b,
          new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            fs.create(new Path(dir, f"part-$b%05d-$partitionId%05d"), true),
            java.nio.charset.StandardCharsets.UTF_8))
        )
        out.write(s"${row.getUTF8String(iKey)} ${row.getUTF8String(iValue)}\n")
      }

      override def commit(): WriterCommitMessage = {
        open.values.foreach(_.close())
        MrTextCommit(open.keys.toSeq)
      }
      override def abort(): Unit = open.values.foreach(_.close())
      override def close(): Unit = ()
    }
  }
}

private[sources] class MrTextWriterFactory(path: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val iBucket = schema.fieldIndex("bucket")
    val iKey = schema.fieldIndex("key")
    val iValue = schema.fieldIndex("value")
    new DataWriter[InternalRow] {
      private val fs = new Path(path).getFileSystem(new Configuration())
      private var cur = -1
      private var out: java.io.BufferedWriter = _
      private val buckets = Seq.newBuilder[Int]

      /** Rows arrive bucket-contiguous (required ordering), so a file
        * is a single sequential stream per bucket — no buffering.
        */
      override def write(row: InternalRow): Unit = {
        val b = row.getInt(iBucket)
        if (b != cur) {
          if (out != null) out.close()
          cur = b
          buckets += b
          out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            fs.create(new Path(new Path(path), s"mr-out-$b"), true),
            java.nio.charset.StandardCharsets.UTF_8))
        }
        out.write(s"${row.getUTF8String(iKey)} ${row.getUTF8String(iValue)}\n")
      }

      override def commit(): WriterCommitMessage = {
        if (out != null) out.close()
        MrTextCommit(buckets.result())
      }
      override def abort(): Unit = if (out != null) out.close()
      override def close(): Unit = ()
    }
  }
}

private[sources] class MrTextReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val MrTextPartition(file, bucket) = partition.asInstanceOf[MrTextPartition]
    new PartitionReader[InternalRow] {
      private val path = new Path(file)
      private val in = path.getFileSystem(new Configuration()).open(path)
      private val lines = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      private var line: String = _

      override def next(): Boolean = { line = lines.readLine(); line != null }

      /** Project only the pruned columns, in the pruned order. */
      override def get(): InternalRow = {
        val sp = line.indexOf(' ')
        val (k, v) = if (sp < 0) (line, "") else (line.substring(0, sp), line.substring(sp + 1))
        new GenericInternalRow(required.fields.map(_.name match {
          case "bucket" => bucket: Any
          case "key" => UTF8String.fromString(k)
          case "value" => UTF8String.fromString(v)
        }))
      }

      override def close(): Unit = lines.close()
    }
  }
}
