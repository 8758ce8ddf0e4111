package graft

import org.apache.spark.sql.SparkSession

/** ONE definition of the engine's local session config, shared by the
  * Bench / Verify / Profile mains. Profile's contract is "the exact
  * Bench session"; hand-copied builder blocks drifted once already
  * (extensions were added to each by hand) — a shared builder makes
  * that class of drift impossible.
  *
  * The settings themselves: `local[cpus]` with shuffle.partitions =
  * cpus (not the 200 default — a 32-thread single JVM wants 32-way
  * shuffles); small file-split sizes because the testdata tables are
  * single parquet files (one scan partition = one busy core without
  * them); UTC + nanosAsLong for the ns-timestamped events table;
  * GraftExtensions so the engine's native functions and the fixed-dim
  * broadcast rule are active exactly as they would be on a cluster
  * deployment.
  */
object GraftSession {

  def build(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing respects advisoryPartitionSizeInBytes instead
      // of padding partition counts up to max parallelism (round 11;
      // Spark's own config doc recommends false). Scale-adaptive in
      // BOTH directions: at 100 TB an exchange still splits into
      // thousands of advisory-sized partitions; at bench scale the
      // 32-way tiny-task fan-out collapses (measured: a 20-query
      // subset 40.5 s -> 27.7 s at sf0.1). A runtime SQL conf, so
      // spark.conf.set still reaches it for an A/B.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drop every cached/checkpointed block eagerly. Shared intermediates
    * are localCheckpoint()'d by several pipelines; without this the
    * ContextCleaner's GC-driven lag accumulates storage pressure across
    * many query runs and evicts later queries' blocks.
    */
  /** BOUNDED artifacts (graft.operators.Artifacts.memo — e.g. the
    * near-dup pair graph shared by the whole cluster family) are
    * exempt from the sweep: they are pair-bounded by contract, and a
    * localCheckpointed RDD cannot recompute once its blocks drop.
    */
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => graft.operators.Artifacts.isPinned(r.id))
      .foreach(_.unpersist(blocking = false))
  }
}
