package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Data-layout operators: multi-dimensional clustering via Z-order
  * (Morton) addressing.
  *
  * Why it matters at 100 TB: a table sorted on ONE column prunes scans
  * only on that column's predicates — parquet footer min/max on every
  * other column spans the whole domain in every file. Writing in
  * Z-address order bounds EVERY interleaved dimension within each file
  * (a 5-bit Z-prefix fixes the top bits of both dims at once), so
  * min/max stats prune on either predicate. This is the layout trick
  * behind Delta/Iceberg OPTIMIZE ZORDER, built here from a codegen
  * expression (`zorder64`) + `repartitionByRange` — both native Spark
  * shapes (the range partitioner samples the Z-address, so the write
  * is one pass, no global sort on the driver).
  */
object LayoutOps {

  /** Dims are folded into a 10-bit space (1024 cells/dim) before
    * interleaving: scale-invariant bucket semantics (the report's
    * shape doesn't drift as keys grow), and small enough that the
    * DuckDB oracle's unrolled interleave stays readable.
    */
  val ZDimBits = 10

  /** Keep the top 5 of the 20 interleaved bits -> 32 Z-buckets, each
    * fixing x bits 9-8 and y bits 9-7: x spans <= 256/1024 of its
    * domain, y <= 128/1024 — BOTH bounded simultaneously, which no
    * single-column sort provides.
    */
  val ZBucketShift = 2 * ZDimBits - 5

  /** Per-Z-bucket clustering report over orders: dims = customer key
    * and order epoch-day, both mod 1024. min/max of each dim within
    * each bucket demonstrate (and the spec asserts) the simultaneous
    * two-dimensional bound — the file-stat pruning guarantee a Z-order
    * write gives every file it lays down.
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val dim = lit(1L << ZDimBits)
    Tables
      .orders(spark, dir)
      .select(
        (col("o_custkey") % dim).as("x"),
        (expr("unix_timestamp(o_orderdate) DIV 86400") % dim).as("y")
      )
      .withColumn("z", VectorExpressions.zorder64(col("x"), col("y")))
      .groupBy(expr(s"z DIV ${1L << ZBucketShift}").as("z_bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"),
        max(col("x")).as("max_x"),
        min(col("y")).as("min_y"),
        max(col("y")).as("max_y")
      )
      .withColumn("x_span", col("max_x") - col("min_x"))
      .withColumn("y_span", col("max_y") - col("min_y"))
  }

  /** The write-side shape: range-partition on the Z-address (sampled
    * range bounds — one pass, no driver sort) and sort within each
    * partition, so every output file covers a contiguous Z-range.
    * Returned with the partition id exposed for the spec's
    * disjointness assertion; a real pipeline would `.write.parquet`
    * this directly.
    */
  def zorderPartitioned(spark: SparkSession, dir: String, nParts: Int): DataFrame = {
    val dim = lit(1L << ZDimBits)
    Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        (col("o_custkey") % dim).as("x"),
        (expr("unix_timestamp(o_orderdate) DIV 86400") % dim).as("y")
      )
      .withColumn("z", VectorExpressions.zorder64(col("x"), col("y")))
      .repartitionByRange(nParts, col("z"))
      .sortWithinPartitions(col("z"))
      .withColumn("part_id", spark_partition_id())
  }

  /** Hilbert-curve layout quality, same contract as [[zorderLayout]]
    * (identical bucketing and span summary, so the two reports compare
    * row-for-row): Hilbert addresses keep consecutive cells GRID-
    * ADJACENT, so per-bucket x/y spans — the zone-map quality that
    * bounds what a range scan must read — are strictly tighter than
    * the Z curve's power-of-two jumps. Same scale shape: one codegen
    * map (`hilbert64`) + one hash aggregate.
    */
  def hilbertLayout(spark: SparkSession, dir: String): DataFrame = {
    val dim = lit(1L << ZDimBits)
    Tables
      .orders(spark, dir)
      .select(
        (col("o_custkey") % dim).as("x"),
        (expr("unix_timestamp(o_orderdate) DIV 86400") % dim).as("y")
      )
      .withColumn("h", VectorExpressions.hilbert64(col("x"), col("y")))
      .groupBy(expr(s"h DIV ${1L << ZBucketShift}").as("h_bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"),
        max(col("x")).as("max_x"),
        min(col("y")).as("min_y"),
        max(col("y")).as("max_y")
      )
      .withColumn("x_span", col("max_x") - col("min_x"))
      .withColumn("y_span", col("max_y") - col("min_y"))
  }

  /** Resharding-cost readout: when the shard count grows
    * [[ShardFrom]] → [[ShardTo]], what fraction of documents MOVE
    * under (a) modulo placement and (b) rendezvous (highest-random-
    * weight) hashing. Modulo remaps ~K/(K+1) of all keys (a 100 TB
    * re-bucket is a full-corpus rewrite); rendezvous moves only the
    * ~1/(K+1) that the new shard wins — THE argument for consistent
    * placement in any layout that ever grows: this query prices the
    * difference in ppm instead of citing it.
    *
    * Rendezvous here is the md5 form both engines evaluate
    * identically: shard = argmax over s of md5("<doc_id>_<s>"), ties
    * impossible in practice and first-index-deterministic anyway
    * (array_position/list_position both return the FIRST maximum).
    * The hash arrays are built from LITERAL shard indexes (a static
    * unrolled `array(...)`, not a higher-order `transform` — HOFs
    * drop off whole-stage codegen), so the whole readout is one
    * codegen scan + one 3-slot aggregate + a 2-row stack.
    */
  val ShardFrom = 10
  val ShardTo = 11

  def shardStability(spark: SparkSession, dir: String): DataFrame = {
    def hrw(k: Int) = {
      val hs = array((0 until k).map(s =>
        md5(concat(col("doc_id").cast("string"), lit(s"_$s")))): _*)
      array_position(hs, array_max(hs)) - 1L
    }
    val one = Tables
      .documents(spark, dir)
      .select(
        (col("doc_id") % ShardFrom =!= col("doc_id") % ShardTo).as("mod_moved"),
        (hrw(ShardFrom) =!= hrw(ShardTo)).as("hrw_moved")
      )
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("mod_moved"), 1L).otherwise(0L)).as("mod_moved"),
        sum(when(col("hrw_moved"), 1L).otherwise(0L)).as("hrw_moved")
      )
    one.select(expr(
      """stack(2,
        | 'mod', n, mod_moved,
        |  CAST(CAST(mod_moved AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT),
        | 'rendezvous', n, hrw_moved,
        |  CAST(CAST(hrw_moved AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)
        |) AS (scheme, n_docs, n_moved, moved_ppm)""".stripMargin))
  }

  /** Epoch-shuffle QUALITY audit: order the corpus by a seeded 60-bit
    * doc hash (the deterministic global shuffle a training run feeds
    * its data loader) and measure source CLUMPING — the count of
    * adjacent same-source pairs vs the exact expectation under a
    * uniform random permutation, E = Σ_s n_s(n_s−1) / n over n−1
    * slots. Consecutive same-source batches correlate gradients; this
    * sheet is the certificate that the cheap hash shuffle actually
    * mixes (clump_ratio ≈ 1), or the alarm that it doesn't, BEFORE a
    * 100 TB epoch is laid out. All counts integer-exact; observed and
    * expected ppm are floor-divs; the ratio is the one IEEE division.
    *
    * Scale: the global order comes from the RankOps range-partition
    * ledger (exact global row_number with a partition-count-bounded
    * driver collect — no single-task window), adjacency is a self
    * equi-join on rank, and the marginals are one #sources aggregate.
    */
  def epochShuffleAudit(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit("ep"))), 1, 15), 16, 10)
      .cast("long")
    val ranked = RankOps
      .withGlobalRank(
        Tables.documents(spark, dir).select(col("doc_id"), col("source"), h.as("h")),
        "rnk",
        Seq(col("h"), col("doc_id"))
      )
      .select(col("rnk"), col("source"))
      .localCheckpoint() // both sides of the adjacency join
    val adj = ranked
      .join(
        ranked.select((col("rnk") - 1L).as("rnk"), col("source").as("next_source")),
        Seq("rnk")
      )
      .agg(
        count(lit(1)).as("n_slots"),
        sum(when(col("source") === col("next_source"), 1L).otherwise(0L)).as("observed_same")
      )
    val marg = Tables
      .documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
      .agg(sum(col("n_s")).as("n_docs"), sum(col("n_s") * (col("n_s") - 1L)).as("sum_ns2"))
    adj
      .crossJoin(broadcast(marg))
      .select(
        col("n_docs"),
        col("n_slots"),
        col("observed_same"),
        col("sum_ns2"),
        expr("CAST(CAST(observed_same AS DECIMAL(38,0)) * 1000000 DIV n_slots AS BIGINT)")
          .as("observed_ppm"),
        expr(
          """CAST(CAST(sum_ns2 AS DECIMAL(38,0)) * 1000000
            |     DIV (CAST(n_docs AS DECIMAL(38,0)) * n_slots) AS BIGINT)""".stripMargin
        ).as("expected_ppm"),
        (col("observed_same").cast("double") * col("n_docs").cast("double") /
          col("sum_ns2").cast("double")).as("clump_ratio")
      )
  }
}
