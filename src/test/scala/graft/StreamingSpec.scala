package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, max, sum}

import graft.streaming.EventStream

/** Structured Streaming twin must converge to the batch answer when
  * fed the same files (format("memory") + processAllAvailable drives
  * the whole backlog synchronously).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Stages the sf0.001 documents as `n` files `b0.parquet`, …, file k
    * holding the docs with doc_id ≡ k (mod n): each file is one
    * micro-batch of an ingest edge.
    */
  private def sliceDocs(n: Int): String = {
    val tmp = java.nio.file.Files.createTempDirectory("ingest-slices").toString
    val docs = graft.operators.Tables.documents(spark, Sf0001).localCheckpoint()
    (0 until n).foreach { k =>
      docs.filter(col("doc_id") % n === k).coalesce(1).write.parquet(s"$tmp/b$k")
      val src = new java.io.File(s"$tmp/b$k").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(
        src.toPath, java.nio.file.Paths.get(tmp, s"b$k.parquet"))
      // drop the staging dir so the stream's glob sees only b*.parquet
      new java.io.File(s"$tmp/b$k").listFiles().foreach(_.delete())
      new java.io.File(s"$tmp/b$k").delete()
    }
    tmp
  }

  test("streaming hourly rollup == batch hourly rollup") {
    val q = EventStream
      .hourlyRollupStream(spark, Sf0001)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hourly_stream")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .table("hourly_stream")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val batch = graft.operators.EventOps
        .hourlyRollup(spark, Sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(4)))
        .toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("event replay source: paced micro-batches drain the corpus; totals == batch") {
    import org.apache.spark.sql.functions._
    val q = spark.readStream
      .format("graft.sources.EventReplay")
      .option("path", Sf0001)
      .option("maxRowsPerBatch", "300")
      .load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("replay_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("replay_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.operators.Tables.events(spark, Sf0001)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch, "AvailableNow replay must drain the whole corpus")
      // the pacing contract: 300-row batches over ~1000 rows => several batches
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3, s"expected paced micro-batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows <= 300L), "maxRowsPerBatch must cap admission")
    } finally q.stop()
  }

  test("event replay source: checkpointed restart resumes from the offset, no reprocessing") {
    import org.apache.spark.sql.functions._
    val ckpt = java.nio.file.Files.createTempDirectory("replay-ckpt").toString
    def run(queryName: String): org.apache.spark.sql.streaming.StreamingQuery = spark.readStream
      .format("graft.sources.EventReplay")
      .option("path", Sf0001)
      .option("maxRowsPerBatch", "250")
      .load()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // first run: drain fully, note the admitted row count
    val q1 = run("replay_r1")
    q1.awaitTermination(120000)
    val rows1 = q1.recentProgress.map(_.numInputRows).sum
    q1.stop()
    val total = graft.operators.Tables.events(spark, Sf0001).count()
    assert(rows1 === total)
    // second run against the SAME checkpoint: the source must report
    // nothing new — zero rows admitted, totals still correct
    val q2 = run("replay_r2")
    q2.awaitTermination(120000)
    val rows2 = q2.recentProgress.map(_.numInputRows).sum
    q2.stop()
    assert(rows2 === 0L, s"restart must resume at the checkpointed end, admitted $rows2")
  }

  test("replay -> stateful sessionizer: closed sessions match batch sessionize") {
    import org.apache.spark.sql.functions._
    val replayed = spark.readStream
      .format("graft.sources.EventReplay")
      .option("path", Sf0001)
      .option("maxRowsPerBatch", "250")
      .load()
    val q = graft.streaming.SessionStream.closedSessionsFrom(replayed)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("replay_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("replay_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      // batch truth: every session EXCEPT each user's last (which stays
      // open in state when the replay ends)
      val batch = graft.operators.EventOps.sessionize(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      val lastPerUser = batch.groupBy(_._1._1).view.mapValues(_.map(_._1._2).max).toMap
      val expected = batch.filter { case ((u, sid), _) => sid != lastPerUser(u) }.toMap
      assert(streamed === expected)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming MR sink: per-epoch snapshots, idempotent commit, reader-compatible layout") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("mr-stream-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mr-stream-ckpt").toString
    val q = spark.readStream
      .format("graft.sources.EventReplay")
      .option("path", Sf0001)
      .option("maxRowsPerBatch", "300")
      .load()
      .selectExpr(
        "CAST(fnv1a(event_type) % 4 AS INT) AS bucket",
        "event_type AS key",
        "CAST(event_id AS STRING) AS value")
      .writeStream
      .format("graft.sources.MrTextSource")
      .option("path", out)
      .option("nreduce", "4")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    import scala.jdk.CollectionConverters._
    val epochs = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("epoch=")).toSeq
    assert(epochs.length >= 3, s"paced replay must land several epochs, got ${epochs.length}")
    epochs.foreach(e => assert(java.nio.file.Files.exists(e.resolve("_SUCCESS"))))
    // every epoch dir is itself a readable MR sink; the union is the corpus exactly once
    val all = epochs.flatMap { e =>
      spark.read.format("graft.sources.MrTextSource").option("path", e.toString).load()
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    }
    val corpus = graft.operators.Tables.events(spark, Sf0001)
      .selectExpr("event_type", "CAST(event_id AS STRING)").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(all.map(t => (t._2, t._3)).sorted === corpus.toSeq.sorted)
    all.foreach { case (b, k, _) => assert(b === graft.functions.Fnv1a.hash(k) % 4) }
  }

  test("stateful streaming sessionization: closed sessions match batch, state spans batches") {
    import spark.implicits._
    // split events into two time-ordered parquet files -> two
    // micro-batches, so open sessions must survive in GroupState
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val ev = graft.operators.Tables.events(spark, Sf0001).orderBy("ts")
    val n = ev.count()
    val rows = ev.collect()
    spark.createDataFrame(spark.sparkContext.parallelize(rows.take((n / 2).toInt).toSeq), ev.schema)
      .coalesce(1).write.parquet(s"$tmp/f1")
    spark.createDataFrame(spark.sparkContext.parallelize(rows.drop((n / 2).toInt).toSeq), ev.schema)
      .coalesce(1).write.parquet(s"$tmp/f2")
    // stream dir with both files (glob over the two part files)
    val dir = tmp
    val merged = s"$tmp/merged"
    new java.io.File(merged).mkdirs()
    for ((sub, ageSec) <- Seq("f1" -> 120L, "f2" -> 0L)) {
      val part = new java.io.File(s"$tmp/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(merged, s"$sub.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      // FileStreamSource orders batches by modification time; identical
      // mtimes made f2 run first and corrupted session order
      java.nio.file.Files.setLastModifiedTime(
        dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageSec * 1000)
      )
    }
    val q = graft.streaming.SessionStream.closedSessions(spark, merged)
      .writeStream.outputMode("append").format("memory").queryName("sess_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val batch = graft.operators.EventOps.sessionize(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // streaming emits only CLOSED sessions: every user's last batch
      // session stays open in state, everything before it must match
      val lastPerUser = batch.keys.groupBy(_._1).map { case (u, ks) => u -> ks.map(_._2).max }
      val expected = batch.filter { case ((u, sid), _) => sid < lastPerUser(u) }
      assert(streamed === expected)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact-dedup: one survivor per fingerprint, fingerprints match batch") {
    val q = graft.streaming.DedupStream
      .firstSeenDocs(spark, Sf0001)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_stream")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_stream").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      // exactly one survivor per fingerprint...
      assert(streamed.map(_._2).distinct.length === streamed.length)
      val batch = graft.operators.DedupOps.exactDedup(spark, Sf0001).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // ...the surviving fingerprint SET equals the batch distinct set
      assert(streamed.map(_._2).toSet === batch.values.toSet)
      // ...and each survivor is a doc that really has that fingerprint
      // (WHICH duplicate survives is arrival order, not batch's min-id)
      streamed.foreach { case (id, fp) => assert(batch(id) === fp) }
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("incremental MV upsert: final snapshot == batch totals, folds only deltas") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val src = s"$tmp/src"
    val target = s"$tmp/mv"
    new java.io.File(src).mkdirs()
    // three files -> three micro-batches, each folded incrementally
    val ev = graft.operators.Tables.events(spark, Sf0001).orderBy("ts")
    val rows = ev.collect()
    val third = rows.length / 3
    val parts = Seq(rows.take(third), rows.slice(third, 2 * third), rows.drop(2 * third))
    for ((part, i) <- parts.zipWithIndex) {
      val d = s"$tmp/p$i"
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq), ev.schema)
        .coalesce(1).write.parquet(d)
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(src, s"p$i.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(
        dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (parts.length - i) * 60000L)
      )
    }
    val q = graft.streaming.UpsertStream.userTotalsStream(spark, src, target)
    try q.processAllAvailable()
    finally q.stop()
    // one committed snapshot per micro-batch = the view was maintained
    // incrementally, not recomputed from a full history at the end
    val versions = new java.io.File(target).listFiles().filter(_.getName.startsWith("v"))
    assert(versions.length === parts.length)
    val got = graft.streaming.UpsertStream.readLatest(spark, target).get
      .selectExpr("user_id", "n_events", "CAST(sum_value AS DOUBLE)", "latest_us")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val batch = graft.operators.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "CAST(value AS DECIMAL(38,10)) AS v",
        "ts DIV 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END) AS ts_us")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("s"), max(col("ts_us")).as("m"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(got === batch)
    assert(got.nonEmpty)
    // crash-replay idempotency: foreachBatch re-delivers the last
    // batchId if the commit log lagged the write — re-upserting the
    // same batch must leave the snapshot bit-identical, not doubled
    val lastBatch = spark.read.parquet(s"$src/p2.parquet")
    graft.streaming.UpsertStream.upsert(lastBatch, parts.length - 1L, target)
    val replayed = graft.streaming.UpsertStream.readLatest(spark, target).get
      .selectExpr("user_id", "n_events", "CAST(sum_value AS DOUBLE)", "latest_us")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(replayed === batch)
  }

  test("watermark drops data later than the delay; on-time state still finalizes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    // hand-built micro-batches with controlled event times:
    //   f1: three events in hour 0 and one in hour 10
    //   f2: one event in hour 11 — watermark advances to h8, then h9;
    //       the hour-0 window finalizes and is emitted
    //   f3: a straggler back in hour 0 (far behind the watermark) and
    //       one event in hour 12
    // The input-side watermark filter applies the PREVIOUS batch's
    // watermark, so the straggler is deliberately sent two batches
    // after the window closed — the realistic "hours-late event" case.
    val h0 = 1704067200L * 1000000000L // 2024-01-01 00:00 UTC, ns
    def ev(id: Long, hour: Long, offMin: Long): Row =
      Row(id, h0 + hour * 3600L * 1000000000L + offMin * 60L * 1000000000L,
        7L, "click", 1.0, "{}")
    val f1 = Seq(ev(1, 0, 1), ev(2, 0, 20), ev(3, 0, 40), ev(4, 10, 0))
    val f2 = Seq(ev(5, 11, 0))
    val f3 = Seq(ev(6, 0, 30), ev(7, 12, 0)) // id 6 is the late straggler
    val tmp = java.nio.file.Files.createTempDirectory("graft-wm").toString
    for ((rows, sub, ageSec) <- Seq((f1, "f1", 120L), (f2, "f2", 60L), (f3, "f3", 0L))) {
      val d = s"$tmp/$sub"
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        graft.streaming.EventStream.eventsSchema).coalesce(1).write.parquet(d)
      val src = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(tmp, s"$sub.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(
        dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageSec * 1000)
      )
    }
    // same window+watermark shape as EventStream.hourlyRollupStream,
    // but in APPEND mode over the custom dir: windows only emit once
    // the watermark passes their end, and stragglers behind the
    // watermark are discarded instead of reopening finalized state
    val stream = spark.readStream
      .schema(graft.streaming.EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp)
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch"), col("n_events"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("wm_stream").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wm_stream").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      // hour 0 finalized with f1's three on-time events, exactly once:
      // the straggler (id 6) was dropped — it neither inflated the
      // count nor reopened the window as a second hour-0 emission
      assert(rows.filter(_._1 == 1704067200L).toSeq === Seq(1704067200L -> 3L))
    } finally q.stop()
  }

  test("streaming session_window: emitted sessions are exactly batch sessions (watermark-closed)") {
    import org.apache.spark.sql.functions._
    // the same session_window aggregate EventOps.sessionWindowAgg runs
    // in batch, as a watermarked stream — shared MergingSessions
    // semantics is the point. Append mode only emits sessions the
    // watermark has CLOSED, so the final (pending) sessions per user
    // stay unflushed on a finite file: emitted must be a strict,
    // non-empty subset that agrees row-for-row with batch.
    val stream = graft.streaming.EventStream.readEvents(spark, Sf0001)
      .select(col("user_id"), timestamp_micros(expr("ts DIV 1000")).as("event_time"),
        col("value"))
      .withWatermark("event_time", "1 minute")
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("start_us"),
        col("n_events"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("sess_win_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_win_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.EventOps.sessionWindowAgg(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(streamed.nonEmpty)
      assert(streamed.subsetOf(batch))
      // only the per-user tail sessions may be pending
      val pendingOk = (batch -- streamed).groupBy(_._1).values.forall(_.size == 1)
      assert(pendingOk, "more than the final session pending for some user")
    } finally q.stop()
  }

  test("stream-static enrichment join == batch join, no state store") {
    val q = graft.streaming.EnrichStream
      .enrichedClicks(spark, Sf0001)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("enrich_stream")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_stream").collect()
        .map(r => (r.getLong(1), r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
      val batch = {
        import org.apache.spark.sql.functions._
        graft.operators.Tables.events(spark, Sf0001)
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"))
          .join(graft.streaming.EnrichStream.userProfile(spark, Sf0001), Seq("user_id"))
          .collect()
          .map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      }
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: in-horizon dups dropped, state evicted beyond it") {
    import org.apache.spark.sql.Row
    val t0 = 1704067200L * 1000000000L // ns
    def row(id: Long, min: Long, fp: String): Row =
      Row(id, t0 + min * 60L * 1000000000L, fp)
    // f1: fp A at m0, filler W at m30 -> after batch 1 the watermark is
    // m20 (30 - 10min delay), past A's m0+10min horizon
    val f1 = Seq(row(1, 0, "A"), row(2, 30, "W"))
    // f2: expired state is evicted at the END of the batch AFTER the
    // watermark passes it, so a spacer batch lets A's eviction land
    val f2 = Seq(row(3, 31, "X"))
    // f3: A again at m40 (beyond horizon -> re-admitted, BY DESIGN) and
    // a W duplicate at m32 (W's horizon is m40 > watermark -> dropped)
    val f3 = Seq(row(4, 40, "A"), row(5, 32, "W"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ddww").toString
    for ((rows, sub, ageSec) <- Seq((f1, "f1", 120L), (f2, "f2", 60L), (f3, "f3", 0L))) {
      val d = s"$tmp/$sub"
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        graft.streaming.DedupStream.arrivalSchema).coalesce(1).write.parquet(d)
      val src = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(tmp, s"$sub.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(
        dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageSec * 1000)
      )
    }
    val q = graft.streaming.DedupStream
      .firstSeenWithinHorizon(spark, tmp)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ddww_stream")
      .start()
    try {
      q.processAllAvailable()
      val survivors = spark.table("ddww_stream").collect().map(_.getLong(0)).toSet
      assert(survivors === Set(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("transformWithState counters: final totals == batch counts, state spans batches") {
    // two time-ordered files -> two micro-batches; counters started in
    // batch 1 must keep incrementing in batch 2 (MapState survival)
    val tmp = java.nio.file.Files.createTempDirectory("graft-tws").toString
    val ev = graft.operators.Tables.events(spark, Sf0001).orderBy("ts")
    val rows = ev.collect()
    val half = rows.length / 2
    for ((part, sub, ageSec) <- Seq(
        (rows.take(half), "f1", 120L), (rows.drop(half), "f2", 0L))) {
      val d = s"$tmp/$sub"
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq), ev.schema)
        .coalesce(1).write.parquet(d)
      val src = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(tmp, s"$sub.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(
        dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageSec * 1000)
      )
    }
    val q = graft.streaming.CounterStream.typeCounts(spark, tmp)
      .writeStream.outputMode("update").format("memory").queryName("tws_stream").start()
    try {
      q.processAllAvailable()
      val updates = spark.table("tws_stream").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      // counters are monotone, so the final value per key is the max update
      val finals = updates.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      val batch = graft.operators.Tables.events(spark, Sf0001)
        .groupBy("user_id", "event_type").count().collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(finals === batch)
      // some counter must have been updated in BOTH batches (value
      // emitted twice for the same key), or cross-batch state is unproven
      assert(updates.groupBy(_._1).exists(_._2.length >= 2))
      assert(finals.nonEmpty)
    } finally q.stop()
  }

  test("event-time timers: idle session emitted by watermark, not by a next event") {
    import org.apache.spark.sql.Row
    // user 42 has one 3-event session and never returns; user 99's
    // later events only advance the watermark. Session 42 can ONLY be
    // emitted by its event-time timer firing — there is no next event
    // for the inline-close path.
    val t0 = 1704067200L * 1000000000L // ns
    def ev(id: Long, user: Long, offMin: Long): Row =
      Row(id, t0 + offMin * 60L * 1000000000L, user, "click", 1.0, "{}")
    val f1 = Seq(ev(1, 42, 0), ev(2, 42, 5), ev(3, 42, 10))
    val f2 = Seq(ev(4, 99, 120))
    val f3 = Seq(ev(5, 99, 240))
    val tmp = java.nio.file.Files.createTempDirectory("graft-timer").toString
    for ((rows, sub, ageSec) <- Seq((f1, "f1", 120L), (f2, "f2", 60L), (f3, "f3", 0L))) {
      val d = s"$tmp/$sub"
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        graft.streaming.EventStream.eventsSchema).coalesce(1).write.parquet(d)
      val src = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(tmp, s"$sub.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(
        dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageSec * 1000)
      )
    }
    val q = graft.streaming.TimerSessionStream.timedOutSessions(spark, tmp)
      .writeStream.outputMode("append").format("memory").queryName("timer_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("timer_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val m = 60L * 1000000L // minute in µs
      val t0us = 1704067200L * 1000000L
      assert(streamed.contains((42L, 3L, t0us, t0us + 10 * m)),
        s"timer-emitted session missing from: $streamed")
      // user 99's first single-event session closed inline (gap
      // exceeded by their own later event); the last stays open
      assert(streamed.contains((99L, 1L, t0us + 120 * m, t0us + 120 * m)))
      assert(streamed.size === 2)
    } finally q.stop()
  }

  test("stream-stream interval join == batch pair join, pairs span micro-batches") {
    // two time-ordered files -> two micro-batches, so clicks buffered
    // in join state from batch 1 must match purchases arriving in
    // batch 2 (pairs straddling the split prove cross-batch state)
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ssjoin").toString
    val ev = graft.operators.Tables.events(spark, Sf0001).orderBy("ts")
    val rows = ev.collect()
    // batch twin of the streaming join, computed up front so the split
    // point can be placed INSIDE a real (click, purchase) interval —
    // a blind halfway split usually has no pair spanning it
    val base = graft.operators.Tables.events(spark, Sf0001)
    val p = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        expr("ts DIV 1000").as("p_us"))
    val c = base.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        expr("ts DIV 1000").as("c_us"))
    val expected = p.join(c,
        col("pu") === col("cu") && col("c_us") <= col("p_us") &&
          col("c_us") > col("p_us") - 3600000000L)
      .select(col("pu"), col("purchase_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty)
    val tsOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // split just before some pair's purchase: its click lands in f1,
    // the purchase in f2
    val splitNs = expected.map { case (_, pid, cid) => (tsOf(pid), tsOf(cid)) }
      .collectFirst { case (pNs, cNs) if cNs < pNs => pNs }
      .getOrElse(fail("no pair with click strictly before purchase"))
    val (f1Rows, f2Rows) = rows.partition(_.getLong(1) < splitNs)
    for ((part, sub, ageSec) <- Seq(
        (f1Rows, "f1", 120L), (f2Rows, "f2", 0L))) {
      val d = s"$tmp/$sub"
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq), ev.schema)
        .coalesce(1).write.parquet(d)
      val src = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(tmp, s"$sub.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(
        dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageSec * 1000)
      )
    }
    val q = graft.streaming.JoinStream.purchaseClickPairs(spark, tmp)
      .writeStream.outputMode("append").format("memory").queryName("ssjoin_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssjoin_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === expected)
      assert(streamed.nonEmpty)
      // at least one pair must straddle the micro-batch boundary,
      // otherwise this test proved nothing about cross-batch state
      val straddling = expected.filter { case (_, pid, cid) =>
        tsOf(pid) >= splitNs && tsOf(cid) < splitNs
      }
      assert(straddling.nonEmpty)
    } finally q.stop()
  }

  test("streaming SpaceSaving sketch == batch sketch (unsaturated => exact)") {
    // two micro-batches of documents; capacity far above the corpus
    // vocabulary, so the sketch is in its exact regime and streamed
    // state-merge must reproduce the batch answer bit-for-bit
    val tmp = java.nio.file.Files.createTempDirectory("sketch-stream").toString
    val docs = graft.operators.Tables.documents(spark, Sf0001)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/d0")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$tmp/d1")
    Seq("d0", "d1").foreach { sub =>
      val src = new java.io.File(s"$tmp/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(
        src.toPath, java.nio.file.Paths.get(tmp, s"$sub.parquet"))
    }
    val cap = 4096
    val q = graft.streaming.SketchStream
      .heavyHittersByLang(spark, tmp, cap)
      .writeStream.outputMode("complete").format("memory")
      .queryName("sketch_stream").start()
    try {
      q.processAllAvailable()
      def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getString(0), e.getLong(1), e.getLong(2)))
      }.toMap
      val streamed = asMap(spark.table("sketch_stream").collect())
      val batch = asMap(
        graft.streaming.SketchStream.heavyHittersByLangBatch(spark, tmp, cap).collect())
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // exact regime: zero error on every entry
      streamed.values.flatten.foreach { case (_, _, err) => assert(err === 0L) }
    } finally q.stop()
  }

  test("streaming packer: incremental assignments == batch packAssign") {
    // three contiguous doc_id slices, so each source's docs arrive in
    // doc_id order across batches (the packer's ordering contract)
    val tmp = java.nio.file.Files.createTempDirectory("pack-stream").toString
    val docs = graft.operators.Tables.documents(spark, Sf0001)
    val cuts = Seq((0L, 167L), (167L, 334L), (334L, Long.MaxValue))
    cuts.zipWithIndex.foreach { case ((lo, hi), k) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.parquet(s"$tmp/p$k")
      val src = new java.io.File(s"$tmp/p$k").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(
        src.toPath, java.nio.file.Paths.get(tmp, s"p$k.parquet"))
    }
    val q = graft.streaming.PackStream
      .assignments(spark, tmp)
      .writeStream.outputMode("append").format("memory")
      .queryName("pack_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pack_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("cum"), r.getAs[Long]("bin")))
        .toMap
      val batch = graft.operators.TextOps.packAssign(spark, Sf0001).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("cum"), r.getAs[Long]("bin")))
        .toMap
      assert(streamed.size === batch.size)
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful restart: the CDC chunker recovers open-chunk state from the " +
    "checkpoint and finishes exactly") {
    // run 1 processes two pos-slices and is STOPPED with chunks still
    // open; run 2 is a NEW query instance on the same checkpoint that
    // must recover per-doc GroupState from the state store, consume
    // the remaining slices, and close every chunk — emissions from
    // the two runs together must equal the batch chunk table exactly
    val tmp = java.nio.file.Files.createTempDirectory("chunk-restart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chunk-restart-ckpt").toString
    val toks = graft.operators.DedupOps.cdcTokens(spark, Sf0001)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      .localCheckpoint()
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$tmp/$name")
      val src = new java.io.File(s"$tmp/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(src.toPath, java.nio.file.Paths.get(tmp, s"$name.parquet"))
    }
    land(toks.filter(col("pos") < 5), "r0")
    land(toks.filter(col("pos") >= 5 && col("pos") < 11), "r1")
    // the FILE sink (not memory) — its manifest log is what makes a
    // restarted query exactly-once across runs
    val out = java.nio.file.Files.createTempDirectory("chunk-restart-out").toString
    def runOnce(): Unit = {
      val q = graft.streaming.ChunkStream.chunks(spark, tmp)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0, "run 1 must close some chunks before the stop")
    land(toks.filter(col("pos") >= 11), "r2")
    land(
      toks.select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(Long.MaxValue).as("pos"), lit("").as("tok")),
      "r3")
    runOnce() // NEW query instance, same checkpoint: state-store recovery
    val streamedRows = spark.read.parquet(out).collect()
    val streamed = streamedRows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("n_toks"), r.getAs[String]("chash"))).toMap
    val batch = graft.operators.DedupOps.cdcChunkTable(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("n_toks"), r.getAs[String]("chash"))).toMap
    assert(streamedRows.length === batch.size,
      "a chunk was emitted twice or lost across the restart")
    assert(streamed === batch)
    assert(afterFirst < batch.size,
      "run 2 must contribute (otherwise the restart proved nothing)")
  }

  test("streaming k-anonymity monitor: final class state derives the batch report") {
    // three micro-batches of QI rows; each class's state is its exact
    // distinct-user set, and the LATEST emission per class (k and
    // n_rows are monotone) must reproduce the batch report through the
    // shared kAnonymityReport stage
    val tmp = java.nio.file.Files.createTempDirectory("anon-stream").toString
    val qi = graft.operators.EventOps.qiClasses(spark, Sf0001)
      .select(col("event_type"), col("hour_of_day"), col("value_band"), col("user_id"))
      .localCheckpoint()
    (0 to 2).foreach { k =>
      qi.filter(col("user_id") % 3 === k).coalesce(1).write.parquet(s"$tmp/a$k")
      val src = new java.io.File(s"$tmp/a$k").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(
        src.toPath, java.nio.file.Paths.get(tmp, s"a$k.parquet"))
    }
    val q = graft.streaming.AnonStream
      .classStats(spark, tmp)
      .writeStream.outputMode("update").format("memory")
      .queryName("anon_stream").start()
    try {
      q.processAllAvailable()
      import spark.implicits._
      val finalClasses = spark.table("anon_stream")
        .groupBy(col("event_type"), col("hour_of_day"), col("value_band"))
        .agg(max(col("k")).as("k"), max(col("n_rows")).as("n_rows"))
      val streamedReport = graft.operators.EventOps.kAnonymityReport(finalClasses)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val batch = graft.operators.EventOps.kAnonymity(spark, Sf0001)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(streamedReport === batch)
      assert(streamedReport.nonEmpty)
    } finally q.stop()
  }

  test("streaming CDC chunker: arrival-time boundaries == batch chunk table") {
    // the token append-log, pos-sliced into three batches (each doc's
    // tokens arrive in pos order across batches — the log contract),
    // plus a final end-marker batch (tok = "") that flushes trailing
    // chunks and retires per-doc state
    val tmp = java.nio.file.Files.createTempDirectory("chunk-stream").toString
    val toks = graft.operators.DedupOps.cdcTokens(spark, Sf0001)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      .localCheckpoint()
    // JVM boundary predicate == the SQL boundary column, every token
    val sqlB = graft.operators.DedupOps.cdcTokens(spark, Sf0001)
      .select(col("tok"), col("b")).distinct().collect()
    assert(sqlB.nonEmpty)
    sqlB.foreach { r =>
      assert(graft.operators.DedupOps.cdcBoundaryJvm(r.getString(0)) === (r.getLong(1) == 1L),
        s"boundary mismatch for token '${r.getString(0)}'")
    }
    val cuts = Seq((0L, 5L), (5L, 11L), (11L, Long.MaxValue))
    cuts.zipWithIndex.foreach { case ((lo, hi), k) =>
      toks.filter(col("pos") >= lo && col("pos") < hi)
        .coalesce(1).write.parquet(s"$tmp/c$k")
      val src = new java.io.File(s"$tmp/c$k").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(
        src.toPath, java.nio.file.Paths.get(tmp, s"c$k.parquet"))
    }
    toks.select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(Long.MaxValue).as("pos"), lit("").as("tok"))
      .coalesce(1).write.parquet(s"$tmp/c3")
    java.nio.file.Files.copy(
      new java.io.File(s"$tmp/c3").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(tmp, "c3.parquet"))
    val q = graft.streaming.ChunkStream
      .chunks(spark, tmp)
      .writeStream.outputMode("append").format("memory")
      .queryName("chunk_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunk_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
          (r.getAs[Long]("n_toks"), r.getAs[String]("chash")))
        .toMap
      val batch = graft.operators.DedupOps.cdcChunkTable(spark, Sf0001).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
          (r.getAs[Long]("n_toks"), r.getAs[String]("chash")))
        .toMap
      assert(streamed.size === batch.size)
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming drift monitor: final Mann-Whitney state == batch query") {
    // three micro-batches of events; the monitor's state is the
    // (type, centi-bin) count table, and the U statistic derived from
    // the final state must equal the batch mannwhitney_drift exactly
    val tmp = java.nio.file.Files.createTempDirectory("drift-stream").toString
    val evs = graft.operators.Tables.events(spark, Sf0001)
    (0 to 2).foreach { k =>
      evs.filter(col("event_id") % 3 === k).coalesce(1).write.parquet(s"$tmp/e$k")
      val src = new java.io.File(s"$tmp/e$k").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(
        src.toPath, java.nio.file.Paths.get(tmp, s"e$k.parquet"))
    }
    val q = graft.streaming.DriftStream
      .binCounts(spark, tmp)
      .writeStream.outputMode("complete").format("memory")
      .queryName("drift_stream").start()
    try {
      q.processAllAvailable()
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        (r.getString(0), r.getString(1)) ->
          (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("u2_a"),
            r.getAs[Double]("auc_a"))
      }.toMap
      val streamed = key(
        graft.streaming.DriftStream.mannWhitney(spark.table("drift_stream")).collect())
      val batch = key(
        graft.streaming.DriftStream
          .mannWhitney(graft.streaming.DriftStream.binCountsBatch(spark, tmp))
          .collect())
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // and the sliced replay reproduces the canonical table's answer
      val canonical = key(
        graft.operators.EventOps.mannWhitneyDrift(spark, Sf0001).collect())
      assert(streamed === canonical)
    } finally q.stop()
  }

  test("streaming near-dup discovery: sliced ingest == batch simhash pair artifact") {
    // documents sliced into 3 micro-batches by doc_id residue (any
    // slicing must yield the same pair SET — pairs emit when the
    // SECOND member arrives, wherever the cut fell)
    val tmp = sliceDocs(3)
    val q = graft.streaming.NearDupStream
      .pairs(spark, tmp)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.DedupOps.simhashPairs(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming minhash near-dup: sliced ingest == batch LSH pair artifact") {
    // banded-MinHash twin of the simhash near-dup stream: same 3-way
    // doc_id-residue slicing; the streamed verified pair set (distinct
    // over bands) must equal the batch minhashLsh artifact exactly,
    // jaccard values included (same long-ratio IEEE division).
    val tmp = sliceDocs(3)
    val q = graft.streaming.MinHashDupStream
      .pairs(spark, tmp)
      .writeStream.outputMode("append").format("memory")
      .queryName("minhashdup_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("minhashdup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.DedupOps.minhashLsh(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty, "sf0.001 corpus should contain minhash near-dups")
    } finally q.stop()
  }

  test("ingest edge: one micro-batch per slice file") {
    // every sliced-ingest test below relies on each b$k.parquet being
    // its own micro-batch; without maxFilesPerTrigger the whole backlog
    // would land in one batch and those tests would pass unsliced
    val tmp = sliceDocs(3)
    val q = graft.streaming.IngestEdge
      .docs(spark, tmp)
      .writeStream.outputMode("append").format("memory")
      .queryName("ingest_slices").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      assert(spark.table("ingest_slices").count() ===
        graft.operators.Tables.documents(spark, Sf0001).count())
    } finally q.stop()
  }

  /** The projection-only ingest edges (`IngestEdge.projections`), each
    * streamed over 3 slices. Stateless map-only edges: ANY slicing must
    * reproduce the batch frame exactly (shared projection Columns).
    * `check` gets the streamed and the batch rows and asserts their
    * keyed equality, the edge's non-vacuity and, for the gates, its
    * reconciliation with the gate's per-source sheet.
    */
  private case class ProjectionEdge(
      name: String,
      edge: String,
      batch: () => DataFrame,
      check: (Array[Row], Array[Row]) => Unit)

  private val projectionEdges = Seq(
    ProjectionEdge("streaming pii redaction: sliced ingest == batch rewrite", "pii",
      () => graft.operators.TextOps.piiRewrite(spark, Sf0001),
      { (rows, batchRows) =>
        def key(rows: Array[Row]) = rows.map { r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
        }.toSet
        val streamed = key(rows)
        val batch = key(batchRows)
        assert(streamed === batch)
        assert(streamed.exists(_._2 > 0), "redacted emails expected")
      }),
    ProjectionEdge(
      "streaming score gate: sliced ingest == batch projection, keep counts == gate sheet",
      "score",
      () => graft.operators.TextOps
        .hashgramGateProjection(graft.operators.Tables.documents(spark, Sf0001)),
      { (rows, batchRows) =>
        def key(rows: Array[Row]) = rows.map { r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))
        }.toSet
        val streamed = key(rows)
        val batch = key(batchRows)
        assert(streamed === batch)
        // the edge gate reconciles with the batch per-source sheet
        val streamKeeps = streamed.groupBy(_._2).map { case (s, g) =>
          (s, g.count(_._4).toLong)
        }
        val sheet = graft.operators.TextOps.hashgramScore(spark, Sf0001).collect()
          .map(r => (r.getString(0), r.getAs[Long]("n_keep"))).toMap
        assert(streamKeeps === sheet)
        assert(streamed.exists(_._4) && streamed.exists(!_._4),
          "the gate should keep some docs and drop some")
      }),
    ProjectionEdge("streaming fim transform: sliced ingest == batch fim_split row-for-row", "fim",
      () => graft.operators.TextOps.fimSplit(spark, Sf0001),
      { (rows, batchRows) =>
        def key(rows: Array[Row]) = rows.map { r =>
          (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6))
        }.toSet
        val streamed = key(rows)
        val batch = key(batchRows)
        assert(streamed === batch)
        assert(streamed.exists(_._2), "some docs should be FIM'd")
      }),
    ProjectionEdge(
      "streaming gopher gate: sliced ingest == batch projection, pass counts == rule sheet",
      "gopher",
      () => graft.operators.TextOps
        .gopherRuleProjection(graft.operators.TextOps.gopherDocs(spark, Sf0001)),
      { (rows, batchRows) =>
        def key(rows: Array[Row]) = rows.map { r =>
          (r.getLong(0), r.getString(1),
            (2 to 8).map(r.getBoolean).mkString(","))
        }.toSet
        val streamed = key(rows)
        val batch = key(batchRows)
        assert(streamed === batch)
        // the edge gate reconciles with the batch per-source sheet
        val streamPass = rows.groupBy(_.getString(1))
          .map { case (s, g) =>
            (s, g.count(r => !(2 to 8).exists(r.getBoolean)).toLong)
          }
        val sheet = graft.operators.TextOps.gopherRules(spark, Sf0001).collect()
          .map(r => (r.getString(0), r.getAs[Long]("n_pass"))).toMap
        assert(streamPass === sheet)
        val flags = rows.flatMap(r => (2 to 8).map(r.getBoolean))
        assert(flags.exists(identity) && flags.exists(!_),
          "rules should fire on some docs and spare others")
      }),
    ProjectionEdge("streaming vad gate: sliced ingest == batch mm_audio_vad row-for-row", "vad",
      () => graft.sources.MultimodalOps.mmAudioVad(spark, Sf0001),
      { (rows, batchRows) =>
        def key(rows: Array[Row]) = rows.map { r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        }.toSet
        val streamed = key(rows)
        val batch = key(batchRows)
        assert(streamed === batch)
        assert(streamed.nonEmpty)
        // the gate discriminates at the edge: activity varies per media
        assert(streamed.map(_._5).size > 1 || streamed.map(t => t._3).toSeq.distinct.size > 1)
      }),
    ProjectionEdge("streaming sft render: sliced ingest == batch sft_render_mask row-for-row", "sft",
      () => graft.operators.TextOps.sftRenderMask(spark, Sf0001),
      { (rows, batchRows) =>
        def key(rows: Array[Row]) = rows.map { r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))
        }.toSet
        val streamed = key(rows)
        val batch = key(batchRows)
        assert(streamed === batch)
        // loss masks are live at the edge: some docs carry loss tokens
        assert(streamed.exists(_._4 > 0L))
      }),
    ProjectionEdge(
      "streaming dpo assembly: sliced ingest == batch pair projection row-for-row", "dpo",
      () => graft.operators.TextOps
        .dpoPairProjection(graft.operators.Tables.documents(spark, Sf0001)),
      { (rows, batchRows) =>
        def key(rows: Array[Row]) = rows.map { r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
        }.toSet
        val streamed = key(rows)
        val batch = key(batchRows)
        assert(streamed === batch)
        // both branches are live at the edge: chosen != rejected for
        // every non-degenerate pair
        assert(streamed.exists(t => t._8 == 0L && t._6 != t._7))
        assert(streamed.filter(_._8 == 0L).forall(t => t._6 != t._7))
      })
  )

  projectionEdges.foreach { e =>
    test(e.name) {
      val tmp = sliceDocs(3)
      val table = s"${e.edge}_stream"
      val q = graft.streaming.IngestEdge.projections(e.edge)(
        graft.streaming.IngestEdge.docs(spark, tmp))
        .writeStream.outputMode("append").format("memory")
        .queryName(table).start()
      try {
        q.processAllAvailable()
        e.check(spark.table(table).collect(), e.batch().collect())
      } finally q.stop()
    }
  }

  test("streaming boilerplate removal: sliced ingest == batch rewrite") {
    // stream-static with a template-bounded broadcast line set; the
    // static side matches on STRINGS while the batch path uses 60-bit
    // line hashes, so equality also proves the batch side collision-free
    val tmp = sliceDocs(3)
    val q = graft.streaming.BoilerplateStream
      .cleaned(spark, tmp, Sf0001)
      .writeStream.outputMode("append").format("memory")
      .queryName("boiler_stream").start()
    try {
      q.processAllAvailable()
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      }.toSet
      val streamed = key(spark.table("boiler_stream").collect())
      val batch = key(graft.operators.TextOps.boilerplateRewrite(spark, Sf0001).collect())
      assert(streamed === batch)
      assert(streamed.exists(_._3 > 0), "dropped boilerplate lines expected")
    } finally q.stop()
  }

  test("streaming clean pipeline: sliced ingest == batch three-stage rewrite") {
    // the composed edge: boiler drop (broadcast set) + pii + secret
    // redaction in one stateless pass; any slicing must reproduce the
    // batch clean_pipeline rows exactly
    val tmp = sliceDocs(3)
    val q = graft.streaming.CleanPipelineStream
      .cleaned(spark, tmp, Sf0001)
      .writeStream.outputMode("append").format("memory")
      .queryName("clean_stream").start()
    try {
      q.processAllAvailable()
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      }.toSet
      val streamed = key(spark.table("clean_stream").collect())
      val batch = key(graft.operators.TextOps.cleanPipeline(spark, Sf0001).collect())
      assert(streamed === batch)
      assert(streamed.exists(_._2 > 0) && streamed.exists(_._3 > 0) &&
        streamed.exists(_._4 > 0), "all three stages should fire")
    } finally q.stop()
  }

  test("streaming decontamination: sliced ingest == batch leak report") {
    // same 3-way doc_id-residue slicing as the near-dup stream test:
    // the per-doc report is stateless, so ANY slicing must reproduce
    // the batch decontaminate rows exactly
    val tmp = sliceDocs(3)
    // benchmark index comes from the canonical table, the stream reads
    // the sliced copies — so contaminated docs must match batch exactly
    val q = graft.streaming.DecontamStream
      .flags(spark, tmp, Sf0001)
      .writeStream.outputMode("append").format("memory")
      .queryName("decontam_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("decontam_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.operators.DedupOps.decontaminate(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty, "sf0.001 corpus should contain contamination")
    } finally q.stop()
  }

  test("incremental MD5 == JDK MessageDigest over randomized chunked feeds") {
    // the chunker's constant-size digest state must agree with the
    // reference digest for every (content, chunking) pair: absorb the
    // same bytes split at random points (including empty pieces and
    // splits inside a UTF-8 sequence is impossible here — pieces are
    // whole strings — so also feed raw byte splits) and compare hex
    import graft.functions.IncrementalMd5
    val rnd = new scala.util.Random(42)
    def jdk(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
    (0 until 200).foreach { i =>
      val len = rnd.nextInt(300) // crosses the 56/64-byte padding seams
      val bytes = Array.fill(len)(rnd.nextInt(256).toByte)
      var st = IncrementalMd5.empty
      var off = 0
      while (off < len) {
        val take = math.min(len - off, rnd.nextInt(70)) // 0-piece feeds too
        st = IncrementalMd5.update(st, java.util.Arrays.copyOfRange(bytes, off, off + take))
        off += take
      }
      assert(IncrementalMd5.hex(st) === jdk(bytes), s"case $i len $len")
      // hex() finalizes a COPY: the state stays absorbable
      val more = "tail".getBytes("UTF-8")
      assert(IncrementalMd5.hex(IncrementalMd5.update(st, more)) === jdk(bytes ++ more))
    }
    // multi-byte UTF-8 through the string feed
    val s = "naïve — 日本語 emoji 🎛 mixed"
    assert(IncrementalMd5.hex(IncrementalMd5.updateUtf8(IncrementalMd5.empty, s))
      === jdk(s.getBytes("UTF-8")))
  }

  test("anon stream: the exact-state cardinality cap fails the query loudly") {
    // a class whose user universe exceeds the cap must surface as a
    // failed query naming the class — never silent state growth
    val tmp = java.nio.file.Files.createTempDirectory("anon-cap").toString
    import spark.implicits._
    (0L until 10L).map(u => ("click", 1L, 0L, u)).toDF(
      "event_type", "hour_of_day", "value_band", "user_id")
      .coalesce(1).write.parquet(s"$tmp/b0")
    java.nio.file.Files.copy(
      new java.io.File(s"$tmp/b0").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(tmp, "b0.parquet"))
    val q = graft.streaming.AnonStream
      .classStats(spark, tmp, maxUsersPerClass = 5)
      .writeStream.outputMode("update").format("memory")
      .queryName("anon_cap_stream").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("exceeded 5 distinct users")),
        s"wrong failure: $e")
    } finally q.stop()
  }

  test("streaming ppl gate: sliced ingest == batch kn_doc_ppl row-for-row") {
    // stateless per-row scoring against the broadcast reference model:
    // ANY slicing must reproduce the batch per-doc perplexity sheet
    // exactly (the stream reads sliced copies; the model trains on the
    // canonical table, so every bigram hits)
    val tmp = sliceDocs(3)
    val q = graft.streaming.PplGateStream
      .scored(spark, tmp, Sf0001)
      .writeStream.outputMode("append").format("memory")
      .queryName("pplgate_stream").start()
    try {
      q.processAllAvailable()
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
      }.toSet
      val streamed = key(spark.table("pplgate_stream").collect())
      val batch = key(graft.operators.TextOps.knDocPpl(spark, Sf0001).collect())
      assert(streamed === batch)
      // non-vacuous: scores genuinely vary at the edge
      assert(streamed.map(_._5).size > 1 || streamed.map(_._5).exists(_ > 0))
      assert(streamed.forall(t => t._3 == 0L || t._4 > 0L))
    } finally q.stop()
  }

  test("streaming dsir gate: sliced ingest == batch dsir_doc_scores row-for-row") {
    // stateless per-row scoring against the broadcast 1024-entry λ
    // array (bounded by CONSTRUCTION, unlike the ppl gate's
    // by-contract model): any slicing must reproduce the batch
    // per-doc importance sheet exactly
    val tmp = sliceDocs(3)
    val q = graft.streaming.DsirGateStream
      .scored(spark, tmp, Sf0001)
      .writeStream.outputMode("append").format("memory")
      .queryName("dsirgate_stream").start()
    try {
      q.processAllAvailable()
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
      }.toSet
      val streamed = key(spark.table("dsirgate_stream").collect())
      val batch = key(graft.operators.TextOps.dsirDocScores(spark, Sf0001).collect())
      assert(streamed === batch)
      // non-vacuous: scores vary and both signs appear (λ is a log
      // ratio — target-like docs up, others down)
      assert(streamed.exists(_._4 > 0L) && streamed.exists(_._4 < 0L))
    } finally q.stop()
  }

  test("streaming dsir selection gate: sliced ingest == the batch threshold filter") {
    // threshold-mode enforcement of the batch dsir_select policy:
    // keep iff score64 >= the source's batch-fit acceptance threshold
    // (ties at the boundary all pass — the order-free per-row form of
    // the quota); sources without a fitted policy reject
    val tmp = sliceDocs(3)
    val q = graft.streaming.DsirSelectStream
      .kept(spark, tmp, Sf0001)
      .writeStream.outputMode("append").format("memory")
      .queryName("dsirsel_stream").start()
    try {
      q.processAllAvailable()
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
      }.toSet
      val streamed = key(spark.table("dsirsel_stream").collect())
      val th = graft.streaming.DsirSelectStream.thresholdIndex(spark, Sf0001)
      assert(th.nonEmpty)
      val batch = key(graft.operators.TextOps.dsirDocScores(spark, Sf0001).collect())
        .filter(t => th.get(t._2).exists(t._4 >= _))
      assert(streamed === batch)
      // a real gate: something passes, something is rejected, and the
      // batch rank-quota kept set is a subset of the threshold pass
      val all = key(graft.operators.TextOps.dsirDocScores(spark, Sf0001).collect())
      assert(streamed.nonEmpty && streamed.size < all.size)
      val quota = graft.operators.TextOps.dsirSelect(spark, Sf0001).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      streamed.groupBy(_._2).foreach { case (src, g) =>
        assert(g.size >= quota(src).toInt, s"threshold pass under quota for $src")
      }
    } finally q.stop()
  }

  test("streaming GLOBAL dsir selection gate: sliced ingest vs the batch Gumbel " +
    "quota obeys the threshold superset/subset contracts; 2-policy edge agreement") {
    val tmp = sliceDocs(3)
    val q = graft.streaming.DsirSelectGlobalStream
      .kept(spark, tmp, Sf0001)
      .writeStream.outputMode("append").format("memory")
      .queryName("dsirglob_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dsirglob_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      // batch keep set: the exact rank quota over the same keys
      val scoredAll = graft.operators.TextOps.dsirDocScores(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
      val keyed = scoredAll.map { case (id, src, s64) =>
        (id, src, s64, graft.streaming.DsirSelectGlobalStream.keyOf(id, s64))
      }
      val n = keyed.length.toLong
      val batchKeep = keyed.sortBy(t => (-t._4, t._1))
        .zipWithIndex
        .filter { case (_, i) => (i + 1).toLong * graft.operators.TextOps.DsirKeepDiv <= n }
        .map(_._1).toSet
      val t = graft.streaming.DsirSelectGlobalStream.globalThreshold(spark, Sf0001)
      assert(t.nonEmpty)
      // threshold-form contracts: streamed == {key64 >= t} EXACTLY;
      // batch quota is a subset; the overhang is boundary ties only
      assert(streamed === keyed.filter(_._4 >= t.get).toSet)
      assert(batchKeep.subsetOf(streamed), "a batch-kept doc did not stream through")
      assert((streamed -- batchKeep).forall(_._4 === t.get),
        "a non-tie row passed the threshold but missed the quota")
      assert(streamed.nonEmpty && streamed.size < keyed.length)
      // 2-policy agreement at the edge: the stratified gate's keep set
      // against the global gate's, counted per source — the edge twin
      // of the batch dsir_select_agreement 2x2
      val strat = graft.streaming.DsirSelectStream.thresholdIndex(spark, Sf0001)
      val stratKeep = scoredAll
        .filter(d => strat.get(d._2).exists(d._3 >= _))
        .map(d => (d._1, d._2)).toSet
      val globKeep = streamed.map(r => (r._1, r._2))
      val nBoth = (globKeep & stratKeep).size
      val nGlobOnly = (globKeep -- stratKeep).size
      val nStratOnly = (stratKeep -- globKeep).size
      assert(nBoth + nGlobOnly == globKeep.size)
      assert(nBoth + nStratOnly == stratKeep.size)
      assert(nBoth > 0, "the two edge policies agree on nothing?!")
    } finally q.stop()
  }

  test("streaming entropy gate: sliced ingest == per-doc c64 entropy, folds to the batch sheet") {
    val tmp = sliceDocs(2)
    val q = graft.streaming.EntropyGateStream
      .scored(spark, tmp)
      .writeStream.outputMode("append").format("memory")
      .queryName("entgate_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("entgate_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSet
      // per-doc parity against an independent recompute from raw text
      val exp = graft.operators.Tables.documents(spark, Sf0001)
        .select("doc_id", "source", "text").collect()
        .map { r =>
          val t = r.getString(2).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq
          val h = graft.streaming.EntropyGateStream.h64Of(t)
          (r.getLong(0), r.getString(1), t.length.toLong, h,
            h < graft.operators.TextOps.LowEntropyH64)
        }.toSet
      assert(streamed === exp)
      // the streamed rows FOLD to the batch gate sheet exactly
      val sheet = streamed.toSeq.groupBy(_._2).map { case (src, g) =>
        val n = g.length.toLong
        val s = g.map(_._4).sum
        val low = g.count(_._5).toLong
        (src, n, s, s / n, low, (BigInt(low) * 1000000 / n).toLong)
      }.toSet
      val batch = graft.operators.TextOps.tokenEntropyGate(spark, Sf0001).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(sheet === batch)
    } finally q.stop()
  }

  test("streaming ppl gate: over-cap reference model fails LOUD, naming the knob") {
    // the bounded-reference-snapshot contract is enforced, not assumed:
    // a crawl-sized refDir must throw at stream build, not OOM the
    // driver mid-collect (and the collect itself is LIMIT-bounded to
    // cap+1 rows either way)
    val key = "spark.graft.pplgate.maxModelEntries"
    val before = spark.conf.getOption(key)
    // "10": the sf0.001 model has far more bigram types; "ten": a cap
    // that does not parse must still name the knob
    val inputs = Seq[(String, Class[_])](
      "10" -> classOf[IllegalStateException],
      "ten" -> classOf[IllegalArgumentException])
    try {
      for ((cap, thrown) <- inputs) {
        spark.conf.set(key, cap)
        val e = intercept[RuntimeException] {
          graft.streaming.PplGateStream.modelIndex(spark, Sf0001)
        }
        assert(e.getClass === thrown)
        assert(e.getMessage.contains("maxModelEntries"))
        assert(e.getMessage.contains(cap))
      }
    } finally {
      before match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    // at the default cap the same model loads, and every fingerprint
    // is unique (the 60-bit collision guard is live but far from its
    // ~10^10-type birthday envelope at test scale)
    val m = graft.streaming.PplGateStream.modelIndex(spark, Sf0001)
    val n = graft.operators.TextOps.knModelForStream(spark, Sf0001).count()
    assert(m.size.toLong === n)
  }
}
