package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream analytics over the `events` table (ts, user_id,
  * event_type, value). Batch forms here; the Structured Streaming
  * twin of the hourly aggregate lives in graft.streaming.
  *
  * Time discipline: event timestamps are µs-precision; outputs carry
  * epoch-µs/epoch-s BIGINT columns (never raw timestamps) so the
  * ns-precision DuckDB oracle hashes identically.
  *
  * Scale notes: hourly rollup is a pure partial-agg shuffle on
  * (hour, type); sessionization shuffles once on user_id and windows
  * within user (at 100 TB: no global sort, skew bounded by the
  * busiest single user); the funnel as-of join is the union+window
  * trick — one shuffle on user_id, no range-join explosion.
  */
object EventOps {

  /** Exact centi-value bin: `value` is a 2-decimal quantity, so the
    * bin is the benford_profile derivation — double → DECIMAL(18,2)
    * (a rounding both engines place on the decimal grid the value was
    * generated on, never near a tie) → exact ×100 → BIGINT. NOT
    * `floor(value*100)`: the double for x.yz is within 1e-13 of the
    * grid point, so floor of the IEEE product sits within one ulp of
    * an integer boundary for thousands of rows — any evaluation-
    * strategy difference between engine builds flips bins. (The
    * round-3 tvd_drift driver-gate red itself traced to the oracle
    * emitting uncast HUGEINT totals, fixed separately; this
    * derivation removes the floor hazard outright.)
    */
  private val centiValue: Column =
    expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")

  /** Floor division of the ns timestamp by d — Spark's DIV truncates
    * toward zero, the DuckDB oracle's date_trunc///// floor; they only
    * differ for pre-1970 timestamps, but the operator should not
    * silently corrupt those.
    */
  private def floorDiv(d: Long) =
    expr(s"ts DIV $d - (CASE WHEN ts % $d < 0 THEN 1 ELSE 0 END)")

  /** ns → µs, floor semantics — same division discipline as floorDiv
    * so pre-1970 timestamps agree with the oracle's epoch_us (floor),
    * not DIV's truncation toward zero.
    */
  private def tsUs = floorDiv(1000L)

  /** Tumbling 1-hour rollup per event type: count, distinct users,
    * exact value sum.
    */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .groupBy(
        (floorDiv(3600000000000L) * 3600).as("hour_epoch"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(38, 10))).cast("double").as("sum_value")
      )
  }

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min

  /** Sessionization: a new session starts when the gap from the user's
    * previous event exceeds 30 min. Output: one row per session with
    * bounds and size. Deterministic order: (ts, event_id).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"),
        col("value"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
          .otherwise(0L)
      )
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        sum(col("value").cast(DecimalType(38, 10))).cast("double").as("sum_value")
      )
  }

  /** Funnel as-of join: each purchase matched to the latest preceding
    * signup by the same user (ordering key (ts, event_id)). Spark has
    * no as-of join operator — the scalable pattern is union the two
    * streams, sort within user, forward-fill the last signup. One
    * shuffle on user_id; no range-join blowup.
    */
  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), tsUs.as("ts_us"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    ev
      .withColumn(
        "last_signup_id",
        last(when(col("event_type") === "signup", col("event_id")), ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      )
      .withColumn(
        "last_signup_us",
        last(when(col("event_type") === "signup", col("ts_us")), ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      )
      .filter(col("event_type") === "purchase" && col("last_signup_id").isNotNull)
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        col("last_signup_id").as("signup_id"),
        (col("ts_us") - col("last_signup_us")).as("gap_us")
      )
  }

  /** Exact value quantiles per event type (interpolated, DuckDB
    * quantile_cont semantics). At 100 TB this becomes
    * approx_percentile — exact percentile requires a per-group sort;
    * both forms shown, oracle checks the exact one.
    */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("n")
      )
  }

  /** KLL quantile-sketch twin of valueQuantiles, certificate-gated:
    * sketch contents depend on partial-merge order (true of any
    * mergeable summary — see functions/KllSketch.scala), so the query
    * emits rank CERTIFICATES instead of the estimates: for each target
    * quantile q the estimate's exact rank (computed by one conditional
    * re-aggregation against the events table) must sit within ±5% of
    * q·n. The oracle re-derives n and asserts the booleans TRUE —
    * a sketch outside its envelope flips a bit and the hash gate goes
    * red. At 100 TB the point is the SUMMARY: per-shard sketches
    * merge into any later rollup without re-reading values, at
    * O(k·log(N/k)) state — the quantile member of the HLL/Count-Min/
    * SpaceSaving family.
    *
    * Shape: pass 1 builds the per-type sketch (one hash exchange);
    * the tiny per-type estimate rows broadcast back onto the events
    * scan for the exact-rank counts (pass 2) — no sort anywhere.
    */
  def kllValueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val targets = Seq(0.5, 0.95, 0.99)
    val eps = 0.05
    val ests = Tables
      .events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        graft.functions.KllSketch
          .kllQuantiles(col("value"), lit(256), array(targets.map(lit): _*))
          .as("ests"),
        count(lit(1)).as("n_rows")
      )
      .select(
        col("event_type"),
        col("n_rows"),
        col("ests").getItem(0).as("est_p50"),
        col("ests").getItem(1).as("est_p95"),
        col("ests").getItem(2).as("est_p99")
      )
    val ranks = Tables
      .events(spark, dir)
      .select(col("event_type"), col("value"))
      .join(broadcast(ests), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("value") <= col("est_p50"), 1L).otherwise(0L)).as("rank_p50"),
        sum(when(col("value") <= col("est_p95"), 1L).otherwise(0L)).as("rank_p95"),
        sum(when(col("value") <= col("est_p99"), 1L).otherwise(0L)).as("rank_p99"),
        count(lit(1)).as("n_rows")
      )
    def ok(rank: Column, q: Double, n: Column): Column =
      abs(rank - lit(q) * n) <= lit(eps) * n
    ranks.select(
      col("event_type"),
      col("n_rows"),
      ok(col("rank_p50"), 0.5, col("n_rows")).as("p50_ok"),
      ok(col("rank_p95"), 0.95, col("n_rows")).as("p95_ok"),
      ok(col("rank_p99"), 0.99, col("n_rows")).as("p99_ok")
    )
  }

  /** KLL sketches merged THROUGH a rollup — the mergeability proof
    * kllValueQuantiles only documents: per-event-type sketches and
    * the ALL row (their merge across the grouping-set expand) come
    * out of ONE aggregation, and every scope's estimates must clear
    * the same ±5% exact-rank certificate. This is the property that
    * matters at 100 TB: per-shard summaries roll up into any later
    * scope without re-reading values — if Spark's partial/merge path
    * through the rollup Expand mishandled a buffer, the ALL row's
    * rank certificate flips a boolean and the hash gate goes red.
    *
    * Shape: pass 1 is one rollup aggregation (sketch state through
    * Expand); the tiny scope rows broadcast back onto the events scan
    * for exact ranks — per-type rows rank within their type, the ALL
    * row against the whole table, in the same second pass.
    */
  def kllSources(spark: SparkSession, dir: String): DataFrame = {
    val targets = Seq(0.5, 0.9)
    val eps = 0.05
    val ests = Tables
      .events(spark, dir)
      .rollup(col("event_type"))
      .agg(
        graft.functions.KllSketch
          .kllQuantiles(col("value"), lit(256), array(targets.map(lit): _*))
          .as("ests")
      )
      .select(
        coalesce(col("event_type"), lit("ALL")).as("scope"),
        col("ests").getItem(0).as("est_p50"),
        col("ests").getItem(1).as("est_p90")
      )
    val ranks = Tables
      .events(spark, dir)
      .select(col("event_type"), col("value"))
      .crossJoin(broadcast(ests))
      .filter(col("scope") === col("event_type") || col("scope") === "ALL")
      .groupBy(col("scope"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("value") <= col("est_p50"), 1L).otherwise(0L)).as("rank_p50"),
        sum(when(col("value") <= col("est_p90"), 1L).otherwise(0L)).as("rank_p90")
      )
    def ok(rank: Column, q: Double, n: Column): Column =
      abs(rank - lit(q) * n) <= lit(eps) * n
    ranks.select(
      col("scope"),
      col("n_rows"),
      ok(col("rank_p50"), 0.5, col("n_rows")).as("p50_ok"),
      ok(col("rank_p90"), 0.9, col("n_rows")).as("p90_ok")
    )
  }

  /** CUBE over (event_type, epoch-day): all grouping-set rollups of
    * the daily activity matrix in one pass.
    */
  def cubeDaily(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .select(col("event_type"), floorDiv(86400000000000L).as("epoch_day"), col("value"))
      .cube(col("event_type"), col("epoch_day"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 10))).cast("double").as("sum_value")
      )
  }

  /** Weekly retention: users active in week w who return in week w+1.
    * Pure integer arithmetic on epoch-weeks.
    */
  def weeklyRetention(spark: SparkSession, dir: String): DataFrame = {
    val wu = Tables
      .events(spark, dir)
      .select(floorDiv(604800000000000L).as("wk"), col("user_id"))
      .distinct()
    val nxt = wu.select((col("wk") - 1).as("wk"), col("user_id").as("nu"))
    wu.join(nxt, wu("wk") === nxt("wk") && col("user_id") === col("nu"), "left")
      .groupBy(wu("wk"))
      .agg(
        count(lit(1)).as("active_users"),
        sum(when(col("nu").isNotNull, 1L).otherwise(0L)).as("retained_users")
      )
  }

  /** Daily event matrix via the pivot OPERATOR (vs userActivity's
    * manual conditional aggregation): one row per epoch-day, one count
    * column per event type. The type list is passed EXPLICITLY —
    * pivot-without-values runs a driver-side distinct scan over the
    * full table to discover columns, a hidden extra pass at 100 TB
    * (and nondeterministic column order); with values it is a single
    * partial-agg shuffle, same plan as the manual form.
    */
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables
      .events(spark, dir)
      .select(floorDiv(86400000000000L).as("epoch_day"), col("event_type"))
      .groupBy(col("epoch_day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    // pivot emits NULL for day/type cells with no events; the count
    // semantics (and the oracle's conditional aggregation) want 0
    EventTypes.foldLeft(pivoted) { (df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L)))
    }
  }

  /** The inverse operator: melt the wide per-day matrix back to long
    * (epoch_day, event_type, n) rows with the UNPIVOT operator
    * (`Dataset.unpivot`). Unpivot is a zero-shuffle projection — each
    * wide row expands to exactly |values| long rows in place, so it
    * adds nothing to the pivot's one aggregation exchange. Zero cells
    * are kept (n=0 is a fact here, not absence-of-data); round-tripping
    * pivot→unpivot against the direct long-form aggregate is also the
    * operator's correctness argument.
    */
  def unpivotDaily(spark: SparkSession, dir: String): DataFrame =
    pivotDaily(spark, dir).unpivot(
      ids = Array(col("epoch_day")),
      values = EventTypes.map(col).toArray,
      variableColumnName = "event_type",
      valueColumnName = "n"
    )

  val PurchaseLookbackUs: Long = 3600L * 1000 * 1000 // 1 hour

  /** Interval join, binned: for each purchase, count the same user's
    * clicks in the preceding hour. The naive form is a range join
    * (`c.ts BETWEEN p.ts - 1h AND p.ts`) — Spark plans inequality-only
    * joins as BroadcastNestedLoopJoin, O(N·M) at scale. The scalable
    * shape: bucket both sides by (user_id, hour-bin), probe each
    * purchase against its own bin AND the previous one (a 1-hour
    * lookback can only span two hour bins), equi-join, then apply the
    * exact time predicate. Each (purchase, click) pair matches exactly
    * once because a click lives in exactly one bin. Two-row fanout on
    * the probe side only — never a cross product.
    */
  def clicksBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val binUs = PurchaseLookbackUs
    // event timestamps are post-1970, so DIV == floor here (and the
    // result stays BIGINT — `/` on longs would be double division)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), tsUs.as("p_us"))
      .withColumn("bin", explode(array(
        expr(s"p_us DIV $binUs"),
        expr(s"p_us DIV $binUs - 1")
      )))
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("user_id"), tsUs.as("c_us"))
      .withColumn("bin", expr(s"c_us DIV $binUs"))
    // LEFT join + predicate folded into the count (not a post-join
    // filter): a purchase whose joined clicks all fail the exact time
    // test must still appear with n_clicks_1h = 0.
    purchases
      .join(clicks, Seq("user_id", "bin"), "left")
      .groupBy(col("user_id"), col("purchase_id"), col("p_us"))
      .agg(
        sum(
          when(
            col("c_us").isNotNull &&
              col("c_us") <= col("p_us") && col("c_us") > col("p_us") - binUs,
            1L
          ).otherwise(0L)
        ).as("n_clicks_1h")
      )
  }

  /** Per-user activity profile: event counts by type (pivot via
    * conditional aggregation), value total, active span.
    */
  def userActivity(spark: SparkSession, dir: String): DataFrame = {
    def cnt(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L))
    Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        cnt("click").as("n_click"),
        cnt("view").as("n_view"),
        cnt("purchase").as("n_purchase"),
        cnt("signup").as("n_signup"),
        cnt("error").as("n_error"),
        sum(col("value").cast(DecimalType(38, 10))).cast("double").as("sum_value"),
        min(tsUs).as("first_us"),
        max(tsUs).as("last_us"),
        countDistinct(floorDiv(86400000000000L)).as("n_active_days")
      )
  }

  /** CDC-style compaction: the event stream as a changelog, collapsed
    * to the latest row per user (ts desc, event_id desc tiebreak) plus
    * how many earlier versions it supersedes — the "current state
    * snapshot" primitive of an upsert/merge pipeline. One shuffle on
    * the key; the argmax is a window rank over the same exchange the
    * version count rides, so compaction stays a single-pass plan at
    * any scale (no self-join of snapshot vs history).
    */
  def latestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val latestFirst = byUser.orderBy(col("ts_us").desc, col("event_id").desc)
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(latestFirst))
      .withColumn("n_versions", count(lit(1)).over(byUser))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_id").as("latest_event_id"),
        col("ts_us").as("latest_us"),
        col("event_type").as("latest_type"),
        col("value").as("latest_value"),
        col("n_versions")
      )
  }

  /** Ordered funnel: per user, the first view, the first click AFTER
    * that view, and the first purchase AFTER that click, with the
    * stage reached (0-3). The standard conversion-funnel primitive,
    * computed as three chained conditional-min windows over ONE
    * user-partitioned sort — never an event self-join (which at 100 TB
    * would be |views| x |clicks| per user). Skew is bounded by the
    * busiest single user, same contract as sessionize.
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
    // min ts per type per user is a plain agg; the "after" chaining is
    // then per-row arithmetic on the three firsts. A click before the
    // first view doesn't count; likewise purchases before that click.
    val firsts = ev
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("first_view_us"),
        collect_list(when(col("event_type") === "click", col("ts_us"))).as("click_ts"),
        collect_list(when(col("event_type") === "purchase", col("ts_us"))).as("purch_ts")
      )
    firsts
      .withColumn(
        "first_click_us",
        array_min(filter(col("click_ts"), t => t >= col("first_view_us")))
      )
      .withColumn(
        "first_purchase_us",
        array_min(filter(col("purch_ts"), t => t >= col("first_click_us")))
      )
      .withColumn(
        "stage",
        when(col("first_view_us").isNull, 0L)
          .when(col("first_click_us").isNull, 1L)
          .when(col("first_purchase_us").isNull, 2L)
          .otherwise(3L)
      )
      .select(
        col("user_id"),
        col("first_view_us"),
        col("first_click_us"),
        col("first_purchase_us"),
        col("stage")
      )
  }

  /** Per-stage conversion window for funnelWindowed: a stage only
    * counts within 24 h of the previous one.
    */
  val FunnelWindowUs = 86400000000L

  /** Time-bounded funnel: funnelStages' semantics with a 24 h
    * conversion window per stage — the click must land within 24 h of
    * the first view, the purchase within 24 h of that click (how
    * product analytics actually defines conversion; the unbounded
    * funnel credits week-later purchases). Same single-aggregate
    * plan: per-user firsts + per-row array filters, never an event
    * self-join.
    */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
    val firsts = ev
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("first_view_us"),
        collect_list(when(col("event_type") === "click", col("ts_us"))).as("click_ts"),
        collect_list(when(col("event_type") === "purchase", col("ts_us"))).as("purch_ts")
      )
    firsts
      .withColumn(
        "first_click_us",
        array_min(
          filter(
            col("click_ts"),
            t => t >= col("first_view_us") && t <= col("first_view_us") + FunnelWindowUs
          )
        )
      )
      .withColumn(
        "first_purchase_us",
        array_min(
          filter(
            col("purch_ts"),
            t => t >= col("first_click_us") && t <= col("first_click_us") + FunnelWindowUs
          )
        )
      )
      .withColumn(
        "stage",
        when(col("first_view_us").isNull, 0L)
          .when(col("first_click_us").isNull, 1L)
          .when(col("first_purchase_us").isNull, 2L)
          .otherwise(3L)
      )
      .select(
        col("user_id"),
        col("first_view_us"),
        col("first_click_us"),
        col("first_purchase_us"),
        col("stage")
      )
  }

  /** SCD2 history: the event changelog per user expanded into
    * validity intervals — each version carries [valid_from, valid_to)
    * epoch-µs bounds, its version number, and an is_current flag
    * (open interval). The dimension-table-history primitive of a
    * warehouse merge. One shuffle on the key; both the interval bound
    * (lead) and the version number ride the same user-partitioned
    * sort, so history expansion is a single window pass — never a
    * self-join of consecutive versions.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from_us").asc, col("event_id").asc)
    Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        col("event_id"),
        tsUs.as("valid_from_us"),
        col("event_type"),
        col("value")
      )
      .withColumn("version", row_number().over(w).cast("bigint"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Distinct-user reach via re-aggregable HLL sketches (the
    * datasketches built-ins): daily per-type sketches union into
    * per-type totals. This is THE incremental-distinct pattern at
    * 100 TB — the exact rollup re-shuffles every (type, user) pair on
    * each recompute, while daily sketches are tiny, persist with the
    * partition, and re-aggregate to any coarser grain by union.
    * Sketch estimates are engine-specific, so (like approx_stats) the
    * query emits the exact count plus an accuracy CERTIFICATE the
    * oracle asserts TRUE: HLL lgK=12 has ~1.6% relative standard
    * error; |est/exact - 1| <= 0.05 is a >3-sigma bound.
    */
  def hllUserReach(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("event_type"), col("user_id"), floorDiv(86400000000000L).as("day"))
    val daily = ev
      .groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val merged = daily
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est")
      )
    val exact = ev
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged
      .join(exact, Seq("event_type"))
      .select(
        col("event_type"),
        col("n_days"),
        col("exact_users"),
        (abs(col("est") / col("exact_users").cast("double") - lit(1.0)) <= lit(0.05))
          .as("hll_ok")
      )
  }

  /** Sessionization via Spark's built-in `session_window` aggregation
    * (vs sessionize's hand-rolled gaps-and-islands): group by
    * (user_id, session_window(ts, 30 min)) and let the engine merge
    * overlapping windows. Semantically this is the MergingSessionsExec
    * path — a single shuffle on user_id with in-sort window merge, no
    * per-row lag() pass, and the same operator Structured Streaming
    * uses for session state, so batch and stream share semantics.
    *
    * Boundary contract (pinned by the boundary spec, mirrored in the
    * oracle): a session window is [first_ts, last_ts + gap) and an
    * event exactly AT the window's end still MERGES — a new session
    * needs a gap strictly > 30 min. That is the same rule as
    * sessionize's `gap > 30min`, so the two operators agree on every
    * input, equality gaps included.
    */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        timestamp_micros(tsUs).as("ts"),
        col("value")
      )
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(38, 10))).cast("double").as("sum_value")
      )
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"),
        col("sum_value")
      )
  }

  /** purchaseAttribution re-expressed on the NATIVE as-of join
    * operator (graft.plans.AsOfJoin — logical node + strategy +
    * streaming-merge exec): each purchase pairs with the latest signup
    * at-or-before it, ties on the timestamp resolved toward the larger
    * event_id. Semantics note vs the union+window form: a signup at
    * the EXACT purchase microsecond matches here (time <= time),
    * whereas the interleaved window only sees rows sorted before the
    * purchase — the differential spec pins both on data where no such
    * tie exists. One exchange per side, O(1) merge state per
    * partition; the physical plan is asserted in PlanAuditSpec.
    */
  def purchaseAttributionAsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), tsUs.as("p_us"))
    val signups = ev
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"), tsUs.as("s_us"))
    graft.plans.AsOfJoin
      .join(purchases, signups, "p_user", "s_user", "p_us", "s_us", "signup_id")
      .filter(col("signup_id").isNotNull)
      .select(
        col("p_user").as("user_id"),
        col("purchase_id"),
        col("signup_id"),
        (col("p_us") - col("s_us")).as("gap_us")
      )
  }

  /** Interval-overlap join, binned: for each session, how many OTHER
    * users' sessions overlap it in time ([start,end] inclusive) — the
    * concurrency/contention primitive. The naive form is a non-equi
    * self-join (BroadcastNestedLoopJoin at scale); the scalable shape
    * mirrors clicksBeforePurchase: explode each session over the hour
    * bins it touches, equi-join on the bin, apply the exact overlap
    * predicate, and COUNT(DISTINCT other-session) so a pair sharing
    * several bins still counts once. Two overlapping intervals always
    * share the bin of any common instant, so the candidate set is
    * lossless. Bin fanout = session span / 1 h + 1 (sessions are
    * gap-bounded, so small); hot bins (peak hours) are the skew knob —
    * shrink the bin width as concurrency grows.
    */
  def concurrentSessions(spark: SparkSession, dir: String): DataFrame = {
    val binUs = 3600L * 1000 * 1000
    val s = sessionize(spark, dir)
      .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"))
      .localCheckpoint() // both sides of the self-join; one execution
    def binned(prefix: String) = s.toDF(
        s"${prefix}_user", s"${prefix}_session", s"${prefix}_start", s"${prefix}_end")
      // DIV, not `/`: long division (timestamps exceed double mantissa)
      .withColumn("bin",
        explode(sequence(
          expr(s"${prefix}_start DIV $binUs"), expr(s"${prefix}_end DIV $binUs"))))
    // Shape note (profiled at sf0.1): filtering BEFORE deduplication
    // shrinks the distinct's shuffle to genuinely-overlapping pairs
    // (the earlier form count-distinct'd the whole bin join output —
    // an Expand over every bin collision, ~10x more shuffled rows).
    // Zero-overlap sessions come back via the sessions-bounded left
    // join instead of riding the inner join as count-0 groups.
    val overlapping = binned("a")
      .join(binned("b"), Seq("bin"))
      .filter(
        col("a_user") =!= col("b_user") &&
          col("b_start") <= col("a_end") && col("a_start") <= col("b_end")
      )
      .select(col("a_user"), col("a_session"), col("b_user"), col("b_session"))
      .distinct() // a pair repeats once per shared bin
      .groupBy(col("a_user"), col("a_session"))
      .agg(count(lit(1)).as("n_over"))
    s.join(
      overlapping,
      col("user_id") === col("a_user") && col("session_id") === col("a_session"),
      "left"
    )
      .select(
        col("user_id"),
        col("session_id"),
        col("start_us"),
        col("end_us"),
        coalesce(col("n_over"), lit(0L)).as("n_concurrent")
      )
  }

  /** Time-series gap filling: the complete hour spine from first to
    * last event, with missing hours ZERO-filled for counts and
    * FORWARD-filled for the last observed hourly value sum — the
    * dashboard/feature-store densification step (downstream window
    * features break on absent rows). The spine generates from one
    * min/max aggregate (a 2-value broadcast, then a bounded explode —
    * hours in the time range, not corpus rows); the forward fill is a
    * last(ignoreNulls) window over that same bounded spine. The
    * global-ordered window is SAFE here precisely because the spine is
    * range-sized: at 100 TB of events it is still one row per hour.
    */
  def hourlySpineFilled(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables
      .events(spark, dir)
      .groupBy(floorDiv(3600000000000L).as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(38, 10))).cast("double").as("sum_value")
      )
    val spine = hourly
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("hour"))
    val wFill = Window
      .orderBy(col("hour").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(hourly, Seq("hour"), "left")
      .select(
        col("hour"),
        (col("hour") * 3600).as("hour_epoch"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sum_value")
      )
      .withColumn("is_gap", col("n_events") === 0L)
      .withColumn("carried_value", last(col("sum_value"), ignoreNulls = true).over(wFill))
      .drop("sum_value")
  }

  /** Sliding 7-day distinct users per day — the rolling-reach metric.
    * COUNT(DISTINCT) cannot ride a sliding window frame, and at scale
    * you never self-join raw events: reduce to the (day, user)
    * distinct grid first (one shuffle, corpus-sized), then explode
    * each grid cell to the <= 7 target days it contributes to
    * (grid-sized fanout, NOT corpus-sized) and count distinct users
    * per target day. Emitted days are restricted to days that exist
    * in the data (the leading horizon would otherwise report partial
    * windows past the last event).
    */
  def rollingUsers7d(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables
      .events(spark, dir)
      .select(floorDiv(86400000000000L).as("day"), col("user_id"))
      .distinct()
      .localCheckpoint() // feeds the fanout and the emitted-day filter
    val contrib = grid
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
    contrib
      .join(grid.select(col("day")).distinct(), Seq("day")) // only real days
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
  }

  val EwmaMaxAgeHalvings = 62 // BIGINT shift bound; older contributions round to 0 anyway

  /** Time-decayed user value (EWMA with a 1-day half-life): each
    * user's score at their LAST event is Σ value·2^(-age_days) — the
    * recency-weighted activity/LTV primitive. Decay per whole epoch-day
    * keeps the weight a power of two: value·2^(-k) is EXACT in IEEE
    * doubles (pure exponent shift), so the only cross-row hazard is
    * the sum — handled with the house fixed-point discipline
    * (round(w·10⁹) BIGINT, order-independent integer adds).
    *
    * Scale shape: one shuffle on user_id; the per-user reference point
    * (max day) is a frameless window over the same exchange the final
    * aggregate rides. Ages cap at 62 halvings (the BIGINT shift bound)
    * — a contribution that old is < 10⁻9 of its value and rounds to
    * zero regardless, so the cap never changes the answer.
    */
  def ewmaUserValue(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("value"), floorDiv(86400000000000L).as("day"))
      .withColumn("last_day", max(col("day")).over(byUser))
      .withColumn(
        "age",
        least(col("last_day") - col("day"), lit(EwmaMaxAgeHalvings.toLong))
      )
      .withColumn(
        "contrib",
        expr(
          "CAST(round(value * 1000000000.0 / " +
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(age AS INT)) AS DOUBLE)) AS BIGINT)"
        )
      )
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("day")).as("last_day"),
        sum(col("contrib")).as("score_q")
      )
      .select(
        col("user_id"),
        col("n_events"),
        col("last_day"),
        col("score_q"),
        (col("score_q").cast("double") / 1e9).as("score")
      )
  }

  /** Semi-structured extraction: events carry a JSON `props` payload;
    * pull `$.k` out with the codegen `get_json_object` path evaluator
    * and aggregate it per event type. At 100 TB this is the canonical
    * "parse the JSON once, in the scan stage, next to the data" shape —
    * a pure projection feeding a map-side-combined 5-group aggregate;
    * the raw JSON string never enters a shuffle.
    */
  def jsonPropsStats(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k")
      )
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k")
      )
  }

  /** Winsorized per-type value stats WITHOUT a global sort: values bin
    * to a fixed centi-grid (exact decimal centi-units), the p05/p95
    * cut bins come from a running below-count over DISTINCT bins only
    * (the window input is |value range|×100 rows per type at any
    * corpus size, not |events|), and the winsorized mean is an exact
    * integer sum of clamped bins. The robust-stats step that feeds
    * outlier-clipped features to training without letting one bad
    * sensor reading poison a mean. Ranks are ceil-integer arithmetic
    * ((n*k+99) div 100) — no float percentile anywhere.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val bins = Tables
      .events(spark, dir)
      .select(col("event_type"), centiValue.as("vb"))
      .groupBy(col("event_type"), col("vb"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val cuts = cum
      .groupBy(col("event_type"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n * 5 + 99) div 100"), col("vb"))).as("p05_c"),
        min(when(col("cum") >= expr("(n * 95 + 99) div 100"), col("vb"))).as("p95_c")
      )
    bins
      .join(broadcast(cuts), Seq("event_type"))
      .withColumn("clamped", greatest(least(col("vb"), col("p95_c")), col("p05_c")))
      .groupBy(col("event_type"), col("n"), col("p05_c"), col("p95_c"))
      .agg(
        sum(col("vb") * col("cnt")).as("sum_c"),
        sum(col("clamped") * col("cnt")).as("wsum_c")
      )
      .select(
        col("event_type"),
        col("n").as("n_events"),
        (col("p05_c").cast("double") / lit(100.0)).as("p05"),
        (col("p95_c").cast("double") / lit(100.0)).as("p95"),
        (col("sum_c").cast("double") / (col("n").cast("double") * lit(100.0)))
          .as("mean_binned"),
        (col("wsum_c").cast("double") / (col("n").cast("double") * lit(100.0)))
          .as("mean_winsorized")
      )
  }

  /** Quantile normalization: map each event type's value distribution
    * onto the GLOBAL distribution (the batch-effect correction used to
    * make heterogeneous sources comparable before mixing). Exact
    * integer rank arithmetic end to end: a value at within-type rank r
    * of n_t maps to the global bin covering rank ceil(r*N/n_t); the
    * bin lookup is the union+window as-of trick — global bins become
    * markers at position gcum, source bins probe at their target rank,
    * and MIN(marker vb) over the following frame (marker vbs ascend
    * with position) finds the covering bin. No range join, no
    * rank-explode. The global window runs over DISTINCT BINS + probe
    * rows (bounded by value range x 100 + bins-per-type, not corpus
    * size — the hourlySpineFilled justification). Output per type:
    * exact centi-unit raw/mapped sums, their exact integer shift, and
    * the derived double means.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("event_type"), centiValue.as("vb"))
    val sb = ev.groupBy(col("event_type"), col("vb")).agg(count(lit(1)).as("cnt"))
    val wS = Window
      .partitionBy(col("event_type"))
      .orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val src = sb
      .withColumn("cum", sum(col("cnt")).over(wS))
      .withColumn("n_t", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val gb = ev.groupBy(col("vb")).agg(count(lit(1)).as("gcnt"))
    val wG = Window.orderBy(col("vb")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val markers = gb
      .withColumn("gcum", sum(col("gcnt")).over(wG))
      .select(
        col("gcum").as("pos"),
        lit(0L).as("is_src"),
        col("vb").as("gvb"),
        lit(null).cast("string").as("event_type"),
        lit(null).cast("long").as("vb"),
        lit(null).cast("long").as("cnt")
      )
    val probes = src
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("n_total"))))
      .select(
        expr("(cum * n_total + n_t - 1) div n_t").as("pos"),
        lit(1L).as("is_src"),
        lit(null).cast("long").as("gvb"),
        col("event_type"),
        col("vb"),
        col("cnt")
      )
    // "MIN over [current row, end)" — but written as a running MIN over
    // the EXACT-REVERSE ordering: Spark executes unbounded-FOLLOWING
    // frames by recomputing the aggregate per row (O(n²) — profiled at
    // 68 s for the sf0.1 union), while unbounded-PRECEDING frames
    // accumulate in O(n). The sort key is strict (marker positions are
    // distinct cumulative counts; probe (event_type, vb) is unique;
    // is_src splits the two), so reversing every key (asc-nulls-first ↔
    // desc-nulls-last, Spark's defaults) yields the identical frame
    // membership and the same `mapped` values.
    val w = Window
      .orderBy(col("pos").desc, col("is_src").asc, col("event_type").desc, col("vb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    markers
      .unionAll(probes)
      .withColumn("mapped", min(when(col("is_src") === 0L, col("gvb"))).over(w))
      .filter(col("is_src") === 1L)
      .groupBy(col("event_type"))
      .agg(
        sum(col("cnt")).as("n_events"),
        sum(col("vb") * col("cnt")).as("raw_c"),
        sum(col("mapped") * col("cnt")).as("mapped_c")
      )
      .select(
        col("event_type"),
        col("n_events"),
        col("raw_c"),
        col("mapped_c"),
        (col("mapped_c") - col("raw_c")).as("shift_c"),
        (col("raw_c").cast("double") / (col("n_events").cast("double") * lit(100.0)))
          .as("mean_raw"),
        (col("mapped_c").cast("double") / (col("n_events").cast("double") * lit(100.0)))
          .as("mean_mapped")
      )
  }

  /** Global top-25 |z-score| outliers of event values, standardized
    * within each event type. Moments are decimal-exact sums (order
    * free); mean/var/std then z are per-row IEEE expressions in one
    * defined order, so the scores — and the top-k cut — are
    * bit-identical on any engine. The plan is one partial-agg moment
    * pass, a 5-row broadcast back onto the stream, and a TakeOrdered —
    * no sort of the full corpus.
    */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables
      .events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 10))).cast("double").as("s"),
        sum((col("value") * col("value")).cast(DecimalType(38, 10))).cast("double").as("s2")
      )
      .withColumn("mean", col("s") / col("n").cast("double"))
      .withColumn("std", sqrt(col("s2") / col("n").cast("double") - col("mean") * col("mean")))
    Tables
      .events(spark, dir)
      .join(broadcast(m.select(col("event_type"), col("mean"), col("std"))), Seq("event_type"))
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(abs(col("z")).desc, col("event_id").asc)
      .limit(25)
  }

  /** Overlapping-interval union per event type: each event opens a
    * 1-hour activity interval [s, s+3600) in epoch seconds; intervals
    * from DIFFERENT users interleave freely, and the query reports the
    * union — total covered seconds, number of maximal busy islands
    * (touching intervals merge: next start == running max end is NOT a
    * new island under the half-open convention), and floor-div
    * utilization ppm of the type's overall span. The classic
    * gaps-and-islands-over-overlapping-intervals shape (uptime /
    * coverage / SLA math) that naive SQL gets wrong with MIN/MAX alone.
    *
    * Scale: all intervals share one fixed length, so the union depends
    * only on DISTINCT start seconds — the first aggregate collapses the
    * corpus to ≤ (types × seconds-in-range) rows BEFORE any window
    * runs (the hourlySpineFilled bound: range-sized, not corpus-sized).
    * The per-type window sorts that bounded set only; event counts ride
    * along as pre-aggregated cnt so nothing re-reads the corpus.
    */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables
      .events(spark, dir)
      .select(col("event_type"), floorDiv(1000000000L).as("s"))
      .groupBy(col("event_type"), col("s"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("e", col("s") + lit(3600L))
    val wPrev = Window
      .partitionBy(col("event_type"))
      .orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window
      .partitionBy(col("event_type"))
      .orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = iv
      .withColumn("prev_end", max(col("e")).over(wPrev))
      .withColumn(
        "new_island",
        when(col("prev_end").isNull || col("s") > col("prev_end"), 1L).otherwise(0L)
      )
      .withColumn("island", sum(col("new_island")).over(wRun))
      .groupBy(col("event_type"), col("island"))
      .agg(
        min(col("s")).as("i_start"),
        max(col("e")).as("i_end"),
        sum(col("cnt")).as("n_ev")
      )
    islands
      .groupBy(col("event_type"))
      .agg(
        sum(col("i_end") - col("i_start")).as("covered_s"),
        count(lit(1)).as("n_islands"),
        sum(col("n_ev")).as("n_events"),
        min(col("i_start")).as("first_s"),
        max(col("i_end")).as("last_s")
      )
      .withColumn(
        "utilization_ppm",
        expr("CAST(CAST(covered_s AS DECIMAL(38,0)) * 1000000 DIV ((last_s - first_s)) AS BIGINT)")
      )
  }

  /** Per-type OLS time trend of event values: slope (per day),
    * intercept, and r² of value vs time — the drift detector that
    * tells a pipeline whether a source's signal is moving before it
    * mixes it. Same determinism discipline as `corrStats`: the five
    * moment sums are exact (time recentered to per-type offsets so t²
    * products stay small — epoch² sums would not — and summed as
    * DECIMALs; values as DECIMAL(18,2)); slope/intercept/r² are then
    * per-row IEEE expressions over exact inputs, identical on any
    * engine and any partitioning. One window pass for the per-type
    * epoch base + one map-side-combined aggregate of #types groups;
    * scan-bound at 100 TB.
    */
  def valueTrend(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        floorDiv(1000000000L).as("s"),
        col("value").cast(DecimalType(18, 2)).as("v")
      )
    val based = ev.withColumn(
      "t",
      col("s") - min(col("s")).over(Window.partitionBy(col("event_type")))
    )
    val n = col("n").cast("double")
    val num = n * col("sum_tv") - col("sum_t") * col("sum_v")
    val denT = n * col("sum_t2") - col("sum_t") * col("sum_t")
    val denV = n * col("sum_v2") - col("sum_v") * col("sum_v")
    based
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("t").cast(DecimalType(38, 0))).cast("double").as("sum_t"),
        sum(col("v").cast(DecimalType(38, 10))).cast("double").as("sum_v"),
        sum((col("t") * col("v")).cast(DecimalType(38, 10))).cast("double").as("sum_tv"),
        sum((col("t") * col("t")).cast(DecimalType(38, 0))).cast("double").as("sum_t2"),
        sum((col("v") * col("v")).cast(DecimalType(38, 10))).cast("double").as("sum_v2")
      )
      .withColumn("slope_per_day", num / denT * lit(86400.0))
      .withColumn("icept", (col("sum_v") - num / denT * col("sum_t")) / n)
      .withColumn("r2", num * num / (denT * denV))
  }

  /** Exact CUSUM changepoint per event type: the k maximizing
    * |S_k − (k/n)·S_n| over the time-ordered value series — where the
    * running sum deviates farthest from the uniform-trend line, i.e.
    * the single most likely mean-shift point. All comparisons happen
    * on D_k = n·S_k − k·S_n in centi-unit integers (values are
    * DECIMAL(18,2); n·S_k and k·S_n are exact decimal products), so
    * the argmax is bit-stable on any engine; ties resolve to the
    * earliest k. Before/after means are per-row IEEE divisions of
    * exact sums.
    *
    * Scale: one sort-shuffle per type (the window_running_total
    * shape — O(1) state per row under the ordered scan); the argmax
    * is a TakeOrdered-style row_number over the same partitioning, no
    * second shuffle of the corpus. A 100 TB deployment would segment
    * the series (per day/shard) and merge candidate maxima — the
    * in-partition math is unchanged.
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        tsUs.as("ts_us"),
        col("event_id"),
        col("value").cast(DecimalType(18, 2)).as("v")
      )
    val ord = Window
      .partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val tot = Window.partitionBy(col("event_type"))
    val d = ev
      .withColumn("cum", sum(col("v")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("k", row_number().over(ord))
      .withColumn("n", count(lit(1)).over(tot))
      .withColumn("sum_v", sum(col("v")).over(tot))
      .withColumn(
        "d_c",
        abs((col("n") * col("cum") - col("k") * col("sum_v")) * 100).cast("long")
      )
    d.withColumn(
      "rnk",
      row_number().over(Window.partitionBy(col("event_type")).orderBy(col("d_c").desc, col("k").asc))
    ).filter(col("rnk") === 1)
      .select(
        col("event_type"),
        col("n"),
        // BIGINT like every board integer: row_number() is int32 and an
        // int32-vs-int64 output pair is a cross-engine hash hazard
        col("k").cast("long").as("k_star"),
        col("ts_us"),
        col("d_c").as("d_max_c"),
        (col("cum").cast("double") / col("k").cast("double")).as("mean_before"),
        ((col("sum_v") - col("cum")).cast("double") /
          (col("n") - col("k")).cast("double")).as("mean_after")
      )
  }

  /** Inter-event gap quantiles per type: p50/p95/max of the µs gaps
    * between a user's consecutive events of that type — the cadence
    * report (is this signal hourly heartbeats or monthly statements?).
    * Gaps are exact integer µs from one lag per (type, user); the
    * percentiles are exact interpolations over integers (the
    * value_quantiles precedent: .0/.5 doubles, bit-stable vs
    * quantile_cont).
    *
    * Scale: shuffle on (type, user) for the lag, then a per-type
    * percentile; at 100 TB the percentile becomes approx_percentile /
    * KLL, same contract.
    */
  def gapQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val byTu = Window
      .partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(col("event_type"), col("user_id"), col("event_id"), tsUs.as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byTu))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        expr("percentile(gap_us, 0.5)").as("p50_us"),
        expr("percentile(gap_us, 0.95)").as("p95_us"),
        min(col("gap_us")).as("min_us"),
        max(col("gap_us")).as("max_us")
      )
  }

  /** Longest strictly-increasing value run per user, summarized
    * corpus-wide — the monotone-streak probe (gaming/fraud signal:
    * organic values wiggle, scripted ones climb). Runs are the classic
    * gaps-and-islands: a new island whenever the value fails to rise,
    * island id by running sum, then two aggregates. Everything is
    * exact integers; ties for the longest streak resolve to the
    * lowest user_id.
    *
    * Scale: one shuffle on user_id, O(1) window state, then
    * map-side-combined aggregates — the sessionize shape.
    */
  def valueStreaks(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val runs = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("v_c"))
      .withColumn("prev_v", lag(col("v_c"), 1).over(byUser))
      .withColumn(
        "brk",
        when(col("prev_v").isNull || col("v_c") <= col("prev_v"), 1L).otherwise(0L)
      )
      .withColumn(
        "run_id",
        sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, 0))
      )
      .groupBy(col("user_id"), col("run_id"))
      .agg(count(lit(1)).as("len"))
    val perUser = runs
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("best"), count(lit(1)).as("n_runs"))
    val summary = perUser.agg(
      count(lit(1)).as("n_users"),
      max(col("best")).as("max_streak"),
      sum(when(col("best") >= 3, 1L).otherwise(0L)).as("n_users_streak3"),
      sum(col("n_runs")).as("n_runs")
    )
    val champion = perUser
      .orderBy(col("best").desc, col("user_id").asc)
      .limit(1)
      .select(col("user_id").as("champion_user"))
    summary.join(broadcast(champion))
  }

  /** First-touch distribution: which event type begins each user's
    * history (deterministic (ts, event_id) order) — the acquisition
    * mix report. Exact counts + floor-div ppm of all users.
    *
    * Scale: one shuffle on user_id for the row_number, then a
    * types-sized aggregate with the 1-row user total broadcast.
    */
  def firstTouch(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val firsts = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"), col("event_type"))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    firsts
      .join(broadcast(firsts.agg(sum(col("n_users")).as("total"))))
      .select(
        col("event_type"),
        col("n_users"),
        expr("CAST(CAST(n_users AS DECIMAL(38,0)) * 1000000 DIV (total) AS BIGINT)").as("share_ppm")
      )
  }

  /** Week-over-week growth per event type — exact weekly centi-sums
    * on fixed 7-day epoch blocks (day DIV 7; no ISO-week calendar
    * functions to disagree across engines), the previous week via one
    * lag, the delta as an exact integer, and the growth ratio as one
    * IEEE division of exact integers. The first week of each type is
    * dropped (growth is undefined without a prior week) so no NULL
    * semantics reach the hash gate. Note DIV vs floor-div: deltas can
    * be negative, and Spark's DIV truncates toward zero while the
    * oracle's // floors — a ppm-style DIV here would silently
    * disagree on negative growth, hence the double.
    *
    * Scale: (type, week) collapse first; the lag window runs over the
    * range-bounded weekly table.
    */
  def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(604800000000000L).as("week"))
      .agg(
        sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("sum_c"),
        count(lit(1)).as("n_events")
      )
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly
      .withColumn("prev_c", lag(col("sum_c"), 1).over(w))
      .filter(col("prev_c").isNotNull)
      .select(
        col("event_type"),
        col("week"),
        col("n_events"),
        col("sum_c"),
        col("prev_c"),
        (col("sum_c") - col("prev_c")).as("delta_c"),
        ((col("sum_c") - col("prev_c")).cast("double") /
          col("prev_c").cast("double")).as("growth")
      )
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between every pair
    * of event types' value distributions — THE distribution-drift
    * detector (did source A's signal move relative to B's?). The KS
    * statistic D = max_x |F_a(x) − F_b(x)| is found entirely in
    * integers: both CDFs are cross-multiplied to the common
    * denominator n_a·n_b, so the argmax compares exact longs
    * (decimal-mediated products), and only the final D is one IEEE
    * division. The max is over the union of both types' distinct
    * centi-value bins — exactly the jump points of either CDF, where
    * the KS sup is attained; between jumps the difference is
    * constant, so nothing is missed. Ties resolve to the earliest
    * bin.
    *
    * Scale: the corpus collapses to (type, bin) counts first
    * (value-range-sized); the pair fan-out replicates only that
    * bounded table by the handful of pairs; the per-pair forward-fill
    * window runs over ≤ 2·bins rows. No corpus self-join, no
    * all-pairs over rows.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("event_type"), centiValue.as("vb"))
    val bins = ev
      .groupBy(col("event_type"), col("vb"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "cum",
        sum(col("cnt")).over(
          Window
            .partitionBy(col("event_type"))
            .orderBy(col("vb"))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
      )
    val totals = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = totals
      .select(col("event_type").as("type_a"), col("n").as("n_a"))
      .crossJoin(totals.select(col("event_type").as("type_b"), col("n").as("n_b")))
      .filter(col("type_a") < col("type_b"))
    val sideA = bins
      .join(broadcast(pairs), col("event_type") === col("type_a"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("vb"),
        col("cum").as("ca"), lit(null).cast("long").as("cb"))
    val sideB = bins
      .join(broadcast(pairs), col("event_type") === col("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("vb"),
        lit(null).cast("long").as("ca"), col("cum").as("cb"))
    val byPair = Window
      .partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = sideA
      .unionAll(sideB)
      // a bin present in both sides yields two rows; collapse so the
      // forward fill sees one row per (pair, vb)
      .groupBy(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("vb"))
      .agg(max(col("ca")).as("ca"), max(col("cb")).as("cb"))
      .withColumn("ca_ff", coalesce(last(col("ca"), ignoreNulls = true).over(byPair), lit(0L)))
      .withColumn("cb_ff", coalesce(last(col("cb"), ignoreNulls = true).over(byPair), lit(0L)))
      .withColumn(
        "d_scaled",
        abs(
          col("ca_ff").cast(DecimalType(19, 0)) * col("n_b").cast(DecimalType(19, 0)) -
            col("cb_ff").cast(DecimalType(19, 0)) * col("n_a").cast(DecimalType(19, 0))
        ).cast("long")
      )
    filled
      .withColumn(
        "rnk",
        row_number().over(
          Window
            .partitionBy(col("type_a"), col("type_b"))
            .orderBy(col("d_scaled").desc, col("vb").asc)
        )
      )
      .filter(col("rnk") === 1)
      .select(
        col("type_a"),
        col("type_b"),
        col("n_a"),
        col("n_b"),
        col("vb").as("vb_star"),
        col("d_scaled"),
        (col("d_scaled").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("ks_d")
      )
  }

  /** Median absolute deviation per event type — the robust
    * scale estimate (MAD shrugs off the outliers that inflate stddev,
    * which is why robust z-scores use it), plus the count of robust
    * outliers (|v − med| > 3·1.4826·MAD, the normal-consistency
    * convention). Determinism: values are centi-integers, so both
    * medians land on .0/.5 — exactly representable doubles that the
    * oracle's quantile_cont reproduces bit-for-bit (the
    * value_quantiles precedent); deviations are exact integer-valued
    * doubles; the outlier threshold multiplies the same literals in
    * the same order on both engines.
    *
    * Scale: two per-type percentile passes with the 5-row median
    * table broadcast between them — no corpus self-join. At 100 TB
    * each pass becomes approx_percentile or the KLL sketch; the
    * robust-z contract is unchanged.
    */
  def madRobust(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("v_c")
      )
    val med = ev
      .groupBy(col("event_type"))
      .agg(expr("percentile(v_c, 0.5)").as("med_c"), count(lit(1)).as("n"))
    val mads = ev
      .join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("v_c").cast("double") - col("med_c")))
      .groupBy(col("event_type"))
      .agg(
        first(col("n")).as("n"),
        first(col("med_c")).as("med_c"),
        expr("percentile(dev, 0.5)").as("mad_c")
      )
    ev.join(broadcast(mads), Seq("event_type"))
      .withColumn("dev", abs(col("v_c").cast("double") - col("med_c")))
      .groupBy(col("event_type"))
      .agg(
        first(col("n")).as("n"),
        first(col("med_c")).as("med_c"),
        first(col("mad_c")).as("mad_c"),
        sum(
          when(col("dev") > lit(3.0) * lit(1.4826) * col("mad_c"), 1L).otherwise(0L)
        ).as("n_out3")
      )
  }

  /** Fano factor (variance-to-mean dispersion) of per-hour event
    * counts per type — the burstiness screen: ≈1 means Poisson-like
    * arrivals, ≫1 means bursts (bot storms, batch replays). Zero-count
    * hours MUST enter the statistic or it biases high; they do so for
    * free — n is the hour SPAN (max−min+1) while Σc and Σc² only need
    * the observed hours (zeros add nothing). Both cross-products are
    * exact integers (decimal-first squares); the Fano ratio
    * (n·Σc² − (Σc)²)/(n·Σc) is one IEEE expression over their
    * correctly-rounded doubles.
    *
    * Scale: one map-side-combined (type, hour) collapse, then a
    * types-sized aggregate — scan-bound at 100 TB, no window, no spine
    * explode.
    */
  def fanoFactor(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(3600000000000L).as("hour"))
      .agg(count(lit(1)).as("c"))
    val n = col("n_hours").cast("double")
    hourly
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_obs_hours"),
        (max(col("hour")) - min(col("hour")) + 1).as("n_hours"),
        sum(col("c")).as("sum_c"),
        sum(col("c").cast(DecimalType(19, 0)) * col("c").cast(DecimalType(19, 0)))
          .cast("double").as("sum_c2")
      )
      .withColumn(
        "fano",
        (n * col("sum_c2") - col("sum_c").cast("double") * col("sum_c").cast("double")) /
          (n * col("sum_c").cast("double"))
      )
  }

  /** Gini coefficient of per-user activity within each event type —
    * the concentration report (is this signal five whales or a broad
    * base?). Uses the rank formula G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n
    * over ascending per-user counts with a DETERMINISTIC total order
    * (count, then user_id — ties must rank stably or Σ i·xᵢ is
    * engine-dependent). Both cross-products are exact integers; G is
    * one IEEE expression over their correctly-rounded doubles.
    *
    * Scale: the corpus collapses to (type, user) counts first; the
    * rank window runs per type over that collapsed set (users-per-type
    * rows). At 10⁹ users/type the rank pass would become a
    * repartitionByRange prefix-sum — the formula is unchanged.
    */
  def activityGini(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"))
    val rnk = Window
      .partitionBy(col("event_type"))
      .orderBy(col("x").asc, col("user_id").asc)
    val n = col("n").cast("double")
    counts
      .withColumn("i", row_number().over(rnk))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"),
        max(col("x")).as("max_x"),
        sum(col("i").cast(DecimalType(19, 0)) * col("x").cast(DecimalType(19, 0)))
          .cast("double").as("sum_ix")
      )
      .withColumn(
        "gini",
        lit(2.0) * col("sum_ix") / (n * col("sum_x").cast("double")) -
          (n + lit(1.0)) / n
      )
  }

  /** Day-of-week seasonality profile per event type: event share and
    * exact value sum per weekday, plus each type's peak day — the
    * seasonal-mix report feeding sampling schedules. Weekday from
    * pure epoch arithmetic — (day + 4) mod 7, anchored by epoch day 0
    * (1970-01-01) being a Thursday, so 0=Sunday … 6=Saturday — no
    * calendar functions to disagree across engines;
    * shares are floor-div ppm; the peak is a deterministic max
    * (count, then earliest weekday). One map-side-combined aggregate
    * of ≤ 7·types groups; scan-bound at 100 TB.
    */
  def weekdayProfile(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        (floorDiv(86400000000000L) + 4) % 7 as "weekday",
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("v_c")
      )
      .groupBy(col("event_type"), col("weekday"))
      .agg(count(lit(1)).as("n"), sum(col("v_c")).as("sum_c"))
    val byType = Window.partitionBy(col("event_type"))
    g.withColumn("type_n", sum(col("n")).over(byType))
      .withColumn(
        "is_peak",
        row_number().over(byType.orderBy(col("n").desc, col("weekday").asc)) === 1
      )
      .select(
        col("event_type"),
        col("weekday"),
        col("n"),
        col("sum_c"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 DIV (type_n) AS BIGINT)").as("share_ppm"),
        col("is_peak")
      )
  }

  /** Top-20 behavioral trigrams: the most common 3-event type
    * sequences users actually perform (consecutive by (ts, event_id)
    * within user) — the path-mining primitive behind funnel DISCOVERY
    * (funnelStages checks a known path; this surfaces unknown ones).
    * Counts are exact; the share is floor-div ppm of all trigram slots
    * (Σ_u max(0, n_u − 2)), so every emitted number is an integer.
    *
    * Scale: one shuffle on user_id, two lead()s inside the per-user
    * window (O(1) state), map-side-combined counts on the ≤ types³
    * group space, TakeOrdered top-k — no global sort of the corpus.
    * Ties break lexicographically so the cut is deterministic.
    */
  def eventTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val tri = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"), col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(byUser))
      .withColumn("t3", lead(col("t1"), 2).over(byUser))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("cnt"))
    tri
      .join(broadcast(tri.agg(sum(col("cnt")).as("total"))))
      .select(col("t1"), col("t2"), col("t3"), col("cnt"),
        expr("CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 DIV (total) AS BIGINT)").as("share_ppm"))
      .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc, col("t3").asc)
      .limit(20)
  }

  /** Lag-1 autocorrelation of per-type daily value sums — the
    * persistence twin of valueTrend (trend says where the mean is
    * going; autocorrelation says whether today predicts tomorrow).
    * Daily sums are exact centi-integers; the (day, next-day) pairs
    * come from one lead() over the bounded (type, day) collapse; the
    * five Pearson moments are exact integer sums and r is a per-row
    * IEEE expression over their correctly-rounded doubles (the
    * corrStats discipline — bit-stable on any engine/partitioning).
    */
  def dailyAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(86400000000000L).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("x"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pairs = daily
      .withColumn("y", lead(col("x"), 1).over(byType))
      .filter(col("y").isNotNull)
    val n = col("n").cast("double")
    val num = n * col("sum_xy") - col("sum_x") * col("sum_y")
    pairs
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).cast("double").as("sum_x"),
        sum(col("y").cast(DecimalType(38, 0))).cast("double").as("sum_y"),
        // decimal-first products: daily sums are ~1e13 centi-units at
        // 100 TB, so a raw long*long would overflow before the cast
        sum(col("x").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0)))
          .cast("double").as("sum_xy"),
        sum(col("x").cast(DecimalType(19, 0)) * col("x").cast(DecimalType(19, 0)))
          .cast("double").as("sum_x2"),
        sum(col("y").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0)))
          .cast("double").as("sum_y2")
      )
      .withColumn(
        "corr_lag1",
        num / (sqrt(n * col("sum_x2") - col("sum_x") * col("sum_x")) *
          sqrt(n * col("sum_y2") - col("sum_y") * col("sum_y")))
      )
  }

  /** Cross-type lag correlation: Pearson r between every ordered pair
    * of event types' daily value series at lags 0–3 days — the
    * leading-indicator scan (does type A's signal move k days before
    * type B's?) extending daily_autocorr's self-lag to pairs. Moments
    * follow the corrStats discipline exactly: decimal-first products
    * of centi-integer daily sums, doubles only at the end; overlap
    * days come from an equi join on (day + lag). Degenerate variance
    * (either matched series constant) reports r = 0 by contract;
    * pairs with under 8 overlapping days are dropped (no meaningful
    * correlation from fewer points).
    *
    * Scale: the corpus collapses to (type, day) first; the pair×lag
    * fan-out replicates only that bounded table ×4 lags; each cell's
    * moments are one aggregate.
    */
  def xcorrTypes(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(86400000000000L).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("x"))
    val lags = spark.range(0, 4).select(col("id").as("lag"))
    val a = daily
      .select(col("event_type").as("type_a"), col("day"), col("x"))
      .crossJoin(broadcast(lags))
    val b = daily.select(col("event_type").as("type_b"), col("day").as("day_b"), col("x").as("y"))
    val n = col("n").cast("double")
    val varX = n * col("sum_x2") - col("sum_x") * col("sum_x")
    val varY = n * col("sum_y2") - col("sum_y") * col("sum_y")
    a.join(b, col("day_b") === col("day") + col("lag") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).cast("double").as("sum_x"),
        sum(col("y").cast(DecimalType(38, 0))).cast("double").as("sum_y"),
        sum(col("x").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0)))
          .cast("double").as("sum_xy"),
        sum(col("x").cast(DecimalType(19, 0)) * col("x").cast(DecimalType(19, 0)))
          .cast("double").as("sum_x2"),
        sum(col("y").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0)))
          .cast("double").as("sum_y2")
      )
      .filter(col("n") >= 8)
      .withColumn(
        "r",
        when(varX <= 0.0 || varY <= 0.0, lit(0.0))
          .otherwise((n * col("sum_xy") - col("sum_x") * col("sum_y")) /
            (sqrt(varX) * sqrt(varY)))
      )
      .select(col("type_a"), col("type_b"), col("lag"), col("n"), col("r"))
  }

  /** Rolling 7-day median of per-type daily value sums — the robust
    * trend smoother (a median shrugs off the single-day spikes that
    * wreck a rolling mean). Exactness discipline: daily sums are
    * centi-unit integers; the window frame is ROWS 6 PRECEDING (same
    * membership on any engine, dense days or not); and the median is
    * reported DOUBLED (`med2_c` = 2·middle, or the sum of the two
    * middles when the frame is even) so the even case stays an exact
    * integer — no .5 ever touches a float.
    *
    * Scale: the corpus collapses to (type, day) rows FIRST (range ×
    * types-sized, not corpus-sized); the sort-based frame median runs
    * over that bounded set. The in-frame sort is 7 elements — constant
    * work per row regardless of corpus size.
    */
  def rollingMedian7d(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(86400000000000L).as("day"))
      .agg(
        sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("day_c"),
        count(lit(1)).as("n_events")
      )
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("day"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("arr", sort_array(collect_list(col("day_c")).over(w)))
      .withColumn("k", size(col("arr")))
      .withColumn(
        "med2_c",
        when(
          col("k") % 2 === 1,
          element_at(col("arr"), ((col("k") + 1) / 2).cast("int")) * 2
        ).otherwise(
          element_at(col("arr"), (col("k") / 2).cast("int")) +
            element_at(col("arr"), (col("k") / 2 + 1).cast("int"))
        )
      )
      .select(
        col("event_type"),
        col("day"),
        col("n_events"),
        col("day_c"),
        col("k").cast("long").as("win_days"),
        col("med2_c")
      )
  }

  /** Distinct-user overlap between every pair of event types via
    * 63-packed bitmap blocks — the roaring-bitmap set-intersection
    * pattern expressed relationally. Users collapse to (type,
    * user_id DIV 63) blocks whose bit_or-aggregated masks carry 63
    * users per row (63, not 64: a sign-bit mask is a portability
    * trap — DuckDB's checked << rejects 1<<63), so the pair join
    * shuffles ~64× fewer rows than a distinct-user self-join and the
    * intersection is one AND+popcount per block. Counts are exact;
    * the one double is a division of exact longs.
    *
    * Scale: block bitmaps are the standard distinct-set exchange
    * format at 10⁹ users (byte-per-8-users); the per-pair fan-out is
    * bounded by types² per block and collapses in the same aggregate.
    */
  def bitmapOverlap(spark: SparkSession, dir: String): DataFrame = {
    val bm = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr("user_id DIV 63").as("block"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").as("mask")
      )
      .groupBy(col("event_type"), col("block"))
      .agg(expr("bit_or(mask)").as("bits"))
    val sizes = bm
      .groupBy(col("event_type"))
      .agg(sum(expr("CAST(bit_count(bits) AS BIGINT)")).as("n_users"))
    bm.select(col("event_type").as("type_a"), col("block"), col("bits").as("bits_a"))
      .join(
        bm.select(col("event_type").as("type_b"), col("block"), col("bits").as("bits_b")),
        Seq("block")
      )
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(expr("CAST(bit_count(bits_a & bits_b) AS BIGINT)")).as("n_both"))
      .join(
        broadcast(sizes.select(col("event_type").as("type_a"), col("n_users").as("users_a"))),
        Seq("type_a")
      )
      .join(
        broadcast(sizes.select(col("event_type").as("type_b"), col("n_users").as("users_b"))),
        Seq("type_b")
      )
      .select(
        col("type_a"),
        col("type_b"),
        col("users_a"),
        col("users_b"),
        col("n_both"),
        (col("n_both").cast("double") /
          (col("users_a") + col("users_b") - col("n_both")).cast("double")).as("jaccard")
      )
  }

  /** Cohort retention triangle: users bucketed by their FIRST active
    * week (the cohort), then counted at every later week-offset —
    * the classic "week-0 signups still active at week k" matrix that
    * weekly_retention (week→week+1 only) cannot express. Activity
    * collapses to distinct (user, week) first; each user's cohort is
    * a window MIN over that collapse (one user_id shuffle, no
    * self-join); retention is floor-div ppm of exact integers.
    *
    * Scale: the corpus reduces to ≤ |users|·|weeks| distinct rows in
    * one pass, the matrix itself is |weeks|² cells, and the
    * cohort-size join broadcasts a weeks-bounded table. Nothing
    * corpus-sized survives the first aggregate.
    */
  def cohortMatrix(spark: SparkSession, dir: String): DataFrame = {
    val wu = Tables
      .events(spark, dir)
      .select(col("user_id"), floorDiv(604800000000000L).as("wk"))
      .distinct()
    val cells = wu
      .withColumn("cohort", min(col("wk")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells
      .filter(col("offset") === 0)
      .select(col("cohort").as("c0"), col("n_active").as("cohort_size"))
    cells
      .join(broadcast(sizes), col("cohort") === col("c0"))
      .select(
        col("cohort"),
        col("offset"),
        col("n_active"),
        col("cohort_size"),
        expr("CAST(CAST(n_active AS DECIMAL(38,0)) * 1000000 DIV (cohort_size) AS BIGINT)").as("ret_ppm")
      )
  }

  /** Theil–Sen robust trend per event type: the MEDIAN of all
    * pairwise day-to-day slopes of the daily value sums — the
    * outlier-resistant alternative to value_trend's OLS (one wild day
    * shifts OLS, not the median slope). Slopes stay exact rationals
    * (dy centi-integer, dx days); the median is selected by rank over
    * (IEEE slope, dy, dx) — the double only orders, and the exact
    * tiebreak pins equal-double pairs, so selection is deterministic
    * on both engines; the reported slope is one IEEE division of the
    * selected exact pair.
    *
    * Scale: the corpus collapses to (type, day) sums first, so the
    * pair join is an equi-join on type over a date-range-bounded
    * table — days² pairs per type regardless of corpus size, never
    * rows². The per-type rank sorts that bounded pair set.
    */
  def theilsenTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(86400000000000L).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("sum_c"))
    val a = daily.select(col("event_type"), col("day").as("day_a"), col("sum_c").as("sum_a"))
    val b = daily.select(col("event_type").as("et_b"), col("day").as("day_b"), col("sum_c").as("sum_b"))
    val pairs = a
      .join(b, col("event_type") === col("et_b") && col("day_a") < col("day_b"))
      .select(
        col("event_type"),
        (col("sum_b") - col("sum_a")).as("dy"),
        (col("day_b") - col("day_a")).as("dx")
      )
      .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
    val wRank = Window
      .partitionBy(col("event_type"))
      .orderBy(col("slope").asc, col("dy").asc, col("dx").asc)
    val stats = daily
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    pairs
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n_pairs + 1) DIV 2"))
      .join(stats, Seq("event_type"))
      .select(
        col("event_type"),
        col("n_days"),
        col("n_pairs"),
        col("dy").as("med_dy"),
        col("dx").as("med_dx"),
        col("slope")
      )
  }

  /** Weekday-effect seasonal decomposition: each (type, day) daily
    * sum split against its weekday's mean for that type — observed,
    * the weekday component (as exact sum/count, not a rounded mean),
    * and the residual both ways: resid_scaled = observed·n − Σweekday
    * is the exact cross-multiplied integer (sign/rank-stable), resid
    * the IEEE value derived from those exact integers. Weekday comes
    * from pure epoch arithmetic ((day+4) mod 7 — the weekday_profile
    * anchor), no calendar functions.
    *
    * Scale: corpus → (type, day) collapse; the weekday means are a
    * (type × 7)-row broadcast; the decomposition is a pure map over
    * the bounded daily table.
    */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(86400000000000L).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("sum_c"))
      .withColumn("wd", expr("(day + 4) % 7"))
    val wdMeans = daily
      .groupBy(col("event_type").as("et_w"), col("wd").as("wd_w"))
      .agg(count(lit(1)).as("wd_n"), sum(col("sum_c")).as("wd_sum_c"))
    daily
      .join(
        broadcast(wdMeans),
        col("event_type") === col("et_w") && col("wd") === col("wd_w")
      )
      .select(
        col("event_type"),
        col("day"),
        col("wd"),
        col("sum_c"),
        col("wd_n"),
        col("wd_sum_c"),
        (col("sum_c") * col("wd_n") - col("wd_sum_c")).as("resid_scaled"),
        (col("sum_c").cast("double") -
          col("wd_sum_c").cast("double") / col("wd_n").cast("double")).as("resid")
      )
  }

  /** DAU/WAU stickiness: per epoch-week, the ratio of average daily
    * active users to weekly active users — THE product-engagement
    * ratio ("what fraction of the weekly audience shows up on a given
    * day"). Exactness: Σdau and wau are exact distinct counts; the
    * ratio is floor-div ppm of Σdau·10⁶ over n_days·wau (cross-
    * multiplied, so no per-day float average); n_days counts OBSERVED
    * active days (documented — edge weeks aren't padded).
    *
    * Scale: two distinct-collapses ((day,user) and (week,user)), each
    * one shuffle; weeks are range-bounded.
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables
      .events(spark, dir)
      .select(floorDiv(86400000000000L).as("day"), col("user_id"))
      .distinct()
    val dau = du
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
      .groupBy(expr("day DIV 7").as("week"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val wau = du
      .select(expr("day DIV 7").as("wk"), col("user_id"))
      .distinct()
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("wau"))
    dau
      .join(wau, col("week") === col("wk"))
      .select(
        col("week"),
        col("n_days"),
        col("wau"),
        col("sum_dau"),
        expr("CAST(CAST(sum_dau AS DECIMAL(38,0)) * 1000000 DIV ((n_days * wau)) AS BIGINT)").as("stickiness_ppm")
      )
  }

  /** Rolling z-score anomaly scoring: each day's value total scored
    * against its own trailing 14-day window (current day excluded —
    * scoring a point against a baseline that contains it dilutes the
    * signal) — the ONLINE anomaly shape, vs spike_days' batch
    * seasonal residuals. Window moments are decimal-exact sums cast
    * to double (the corrStats discipline, per-frame); z is one IEEE
    * tree per row; days with under 7 prior points are dropped and
    * zero-variance baselines report z = 0 by contract.
    *
    * Scale: the (type, day) collapse bounds the window input; the
    * trailing frame holds ≤ 14 rows of state.
    */
  def rollingZscore(spark: SparkSession, dir: String): DataFrame = {
    val trail = Window
      .partitionBy(col("event_type"))
      .orderBy(col("day").asc)
      .rowsBetween(-14, -1)
    val n = col("n_prior").cast("double")
    val varN = n * col("sx2") - col("sx") * col("sx")
    Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(86400000000000L).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("sum_c"))
      .withColumn("n_prior", count(lit(1)).over(trail))
      .withColumn("sx", sum(col("sum_c").cast(DecimalType(38, 0))).over(trail).cast("double"))
      .withColumn(
        "sx2",
        sum(col("sum_c").cast(DecimalType(19, 0)) * col("sum_c").cast(DecimalType(19, 0)))
          .over(trail)
          .cast("double")
      )
      .filter(col("n_prior") >= 7)
      .select(
        col("event_type"),
        col("day"),
        col("sum_c"),
        col("n_prior"),
        when(varN <= 0.0, lit(0.0))
          .otherwise(
            (col("sum_c").cast("double") - col("sx") / n) /
              sqrt(varN / (n * (n - lit(1.0))))
          )
          .as("z")
      )
  }

  /** Bounce rate by session entry type: how often a session that
    * OPENS with a given event type ends after that single event — the
    * landing-quality readout sessionEntryExit's matrix folds away
    * (one-event sessions sit on its diagonal mixed with true
    * round-trips). Same sessionize plan; the entry type rides the
    * aggregate as a min-struct.
    *
    * Scale: one user_id shuffle; output is |types| rows.
    */
  def bounceRate(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"), col("event_type"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
          .otherwise(0L)
      )
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("first_ev")
      )
      .groupBy(col("first_ev.event_type").as("entry_type"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces")
      )
      .select(
        col("entry_type"),
        col("n_sessions"),
        col("n_bounces"),
        expr("CAST(CAST(n_bounces AS DECIMAL(38,0)) * 1000000 DIV (n_sessions) AS BIGINT)").as("bounce_ppm")
      )
  }

  /** Maximum drawdown per event type: the deepest peak-to-trough fall
    * of the cumulative daily value series — "how far under its
    * high-water mark did this signal sink" (the standard health
    * metric for any monotone-ish KPI; a deep drawdown in a
    * data-volume series is a pipeline outage). Cumulative sum,
    * running peak and drawdown are all exact centi-integers riding
    * ONE ordered window; the trough row is rank-selected with
    * (drawdown desc, day asc) so ties take the earliest day.
    *
    * Scale: the corpus collapses to (type, day) first; the window
    * holds O(1) state over that bounded series.
    */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    val run = byType.rowsBetween(Window.unboundedPreceding, 0)
    val daily = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), floorDiv(86400000000000L).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("sum_c"))
      .withColumn("cum_c", sum(col("sum_c")).over(run))
      .withColumn("peak_c", max(col("cum_c")).over(run))
      .withColumn("dd_c", col("peak_c") - col("cum_c"))
    daily
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("dd_c").desc, col("day").asc)
        )
      )
      .withColumn("n_days", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rk") === 1)
      .select(
        col("event_type"),
        col("n_days"),
        col("day").as("trough_day"),
        col("peak_c"),
        col("cum_c").as("cum_at_trough_c"),
        col("dd_c").as("max_dd_c")
      )
  }

  /** Funnel latency: among users who completed the windowed funnel
    * (stage 3), the distribution of view→click and click→purchase
    * delays — the "how fast do conversions happen" readout that sets
    * the funnel window itself. Delays are exact integer µs; p50/p90
    * interpolate on those integers (the gap_quantiles discipline).
    *
    * Scale: one pass over funnelWindowed's per-user aggregate, one
    * single-row summary.
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    funnelWindowed(spark, dir)
      .filter(col("stage") === 3)
      .select(
        (col("first_click_us") - col("first_view_us")).as("vc_us"),
        (col("first_purchase_us") - col("first_click_us")).as("cp_us")
      )
      .agg(
        count(lit(1)).as("n_converted"),
        expr("percentile(vc_us, 0.5)").as("vc_p50_us"),
        expr("percentile(vc_us, 0.9)").as("vc_p90_us"),
        max(col("vc_us")).as("vc_max_us"),
        expr("percentile(cp_us, 0.5)").as("cp_p50_us"),
        expr("percentile(cp_us, 0.9)").as("cp_p90_us"),
        max(col("cp_us")).as("cp_max_us")
      )
  }

  /** Anomalous-day detection: days whose weekday-adjusted residual
    * (seasonalDecompose's output, floor-divided back to the day
    * scale) exceeds 3·1.4826·MAD of that type's residuals — the
    * seasonal twin of value_outliers, and a deliberate COMPOSITION of
    * two registered operators (decompose → robust threshold), the way
    * pipelines actually stack. resid_q is an exact truncating-div
    * integer — Spark's DIV and DuckDB's integer // BOTH truncate
    * toward zero (verified; the floor-vs-trunc trap bites the other
    * way on epoch buckets, which are never negative); medians over
    * integers interpolate on the .0/.5 grid, exactly representable
    * (the mad_robust discipline).
    *
    * Scale: inherits seasonalDecompose's bounded daily table; two
    * percentile passes over it with broadcast joins.
    */
  def spikeDays(spark: SparkSession, dir: String): DataFrame = {
    val resid = seasonalDecompose(spark, dir)
      .select(col("event_type"), col("day"), col("resid_scaled"), col("wd_n"))
      .withColumn("resid_q", expr("resid_scaled DIV wd_n"))
    val med = resid
      .groupBy(col("event_type").as("et_m"))
      .agg(expr("percentile(resid_q, 0.5)").as("med_q"))
    val withDev = resid
      .join(broadcast(med), col("event_type") === col("et_m"))
      .withColumn("dev", abs(col("resid_q").cast("double") - col("med_q")))
    val mads = withDev
      .groupBy(col("event_type").as("et_d"))
      .agg(expr("percentile(dev, 0.5)").as("mad_q"))
    withDev
      .join(broadcast(mads), col("event_type") === col("et_d"))
      .filter(col("dev") > lit(3.0) * lit(1.4826) * col("mad_q"))
      .select(
        col("event_type"),
        col("day"),
        col("resid_q"),
        col("dev"),
        col("med_q"),
        col("mad_q")
      )
  }

  /** Session entry→exit matrix: which event type OPENS a session
    * crossed with which type CLOSES it (deterministic (ts, event_id)
    * bounds via min/max-struct selection — no second window pass),
    * with session counts, event totals and exact summed durations —
    * the "how do visits start and end" product readout on top of the
    * sessionize discipline.
    *
    * Scale: one user_id shuffle builds sessions (the sessionize
    * plan); the struct min/max ride the same aggregate, and the
    * matrix is ≤ |types|² rows.
    */
  def sessionEntryExit(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"), col("event_type"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
          .otherwise(0L)
      )
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("first_ev"),
        max(struct(col("ts_us"), col("event_id"), col("event_type"))).as("last_ev")
      )
      .select(
        col("first_ev.event_type").as("entry_type"),
        col("last_ev.event_type").as("exit_type"),
        col("n_events"),
        (col("last_ev.ts_us") - col("first_ev.ts_us")).as("dur_us")
      )
      .groupBy(col("entry_type"), col("exit_type"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        sum(col("dur_us")).as("sum_dur_us")
      )
  }

  /** Two-proportion A/B test: users deterministically halved by md5
    * parity (the data_split discipline), conversion = "purchase count
    * at or above the corpus median" (a RELATIVE cutoff, so the metric
    * keeps variance at any scale — an absolute count threshold would
    * drift degenerate as corpora grow, the ngram stop-cap lesson),
    * and the pooled two-proportion z-statistic. Arm split, conversion
    * counts, the median cutoff and the cross-multiplied exact delta
    * (conv_a·n_b − conv_b·n_a, sign/rank-stable) are pure integers;
    * rates and z are IEEE doubles derived from those exact integers
    * by one fixed expression tree (div/add/mul/sqrt are correctly
    * rounded, so both engines agree bit-for-bit). Degenerate variance
    * (all or no users converted) yields z = 0 by explicit contract —
    * never a NULL or a divide-by-zero.
    *
    * Scale: one user_id shuffle to per-user purchase counts; the
    * median comes from distinct-count bins (count-range-bounded, no
    * user sort) as a one-row broadcast; then a map-side conditional
    * aggregate to a single row.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
    val bins = perUser.groupBy(col("np")).agg(count(lit(1)).as("cnt"))
    // lower-median cutoff: smallest np whose running user count
    // reaches ceil(n/2) — integer rank arithmetic over distinct bins.
    // The running count rides RankOps' range-partitioned running sum:
    // the bin table is bounded (distinct purchase counts), but a
    // partition-less window is still a single-task sort and was the
    // ONE query the pre-fixpoint plan sweep missed (it hid inside a
    // broadcast build-side stage). The ledger's grand total replaces
    // the former n_users broadcast join for free.
    val (binsCum, totalUsers) = RankOps.withGlobalRankAndRunningSum(
      bins, col("cnt"), "_rnk", "cum", Seq(col("np").asc))
    val cutoff = binsCum
      .filter(col("cum") * 2 >= totalUsers)
      .agg(min(col("np")).as("cutoff"))
    val flagged = perUser
      .join(broadcast(cutoff))
      .select(
        (conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2).as("arm"),
        when(col("np") >= col("cutoff"), 1L).otherwise(0L).as("conv"),
        col("cutoff")
      )
    flagged
      .groupBy(col("cutoff"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b")
      )
      .select(
        col("cutoff"),
        col("n_a"),
        col("conv_a"),
        col("n_b"),
        col("conv_b"),
        (col("conv_a") * col("n_b") - col("conv_b") * col("n_a")).as("delta_scaled"),
        when(col("n_a") === 0, lit(0.0))
          .otherwise(col("conv_a").cast("double") / col("n_a").cast("double"))
          .as("rate_a"),
        when(col("n_b") === 0, lit(0.0))
          .otherwise(col("conv_b").cast("double") / col("n_b").cast("double"))
          .as("rate_b"),
        when(
          col("n_a") === 0 || col("n_b") === 0 ||
            col("conv_a") + col("conv_b") === 0 ||
            col("conv_a") + col("conv_b") === col("n_a") + col("n_b"),
          lit(0.0)
        ).otherwise(
          (col("conv_a").cast("double") / col("n_a").cast("double") -
            col("conv_b").cast("double") / col("n_b").cast("double")) /
            sqrt(
              ((col("conv_a") + col("conv_b")).cast("double") /
                (col("n_a") + col("n_b")).cast("double")) *
                (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") /
                  (col("n_a") + col("n_b")).cast("double")) *
                (lit(1.0) / col("n_a").cast("double") +
                  lit(1.0) / col("n_b").cast("double"))
            )
        ).as("z_stat")
      )
  }

  /** Multi-touch LINEAR attribution — completes the attribution family
    * (purchaseAttribution = last-touch, firstTouch = first-touch):
    * every touch (non-purchase event of the same user in the 24 h
    * before a purchase, strictly earlier) shares the conversion credit
    * equally. NO self-join: per-purchase touch counts come from four
    * per-type RANGE-frame window sums sharing ONE user-partitioned
    * sort — the union+window discipline (a purchase×touch interval
    * join would fan out touches² per hot user). Credit is exact
    * floor-div ppm: each touch type gets cnt_type·(10⁶ DIV n) — the
    * per-purchase remainder (< n µppm) is deliberately dropped, same
    * both engines.
    *
    * Scale: one shuffle on user_id, O(1) window state per frame (sum
    * of 0/1), then a 4-way stack and a 4-group aggregate. The 24 h
    * RANGE frame bounds state by time, not corpus size.
    */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val fr = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-86400000000L, -1L)
    def cnt(t: String) =
      sum(when(col("event_type") === t, 1L).otherwise(0L)).over(fr).as(s"cnt_$t")
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
      .select(col("event_type"), cnt("click"), cnt("error"), cnt("signup"), cnt("view"))
      .filter(col("event_type") === "purchase")
      .withColumn("n", col("cnt_click") + col("cnt_error") + col("cnt_signup") + col("cnt_view"))
      .select(
        expr(
          "stack(4, 'click', cnt_click, 'error', cnt_error, 'signup', cnt_signup, 'view', cnt_view) AS (touch_type, cnt)"),
        col("n")
      )
      .filter(col("cnt") > 0)
      .groupBy(col("touch_type"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(col("cnt")).as("n_touches"),
        sum(expr("cnt * (1000000 DIV n)")).as("credit_ppm")
      )
  }

  /** Temporal distribution drift: total-variation distance between the
    * first and second half of the corpus's time range, per event type
    * — the deploy-time monitoring twin of `ksDrift` (which compares
    * type vs type; this compares now vs before). TVD rather than PSI
    * because PSI needs ln() and libm is not bit-stable across engines
    * (the hazard_table/hapax_ratio rationale); TVD = ½·Σ|p−q| is
    * exact: with half sizes n0/n1 and per-bin counts c0/c1, the
    * numerator Σ|c0·n1 − c1·n0| is integer arithmetic, cross-
    * multiplied to the common n0·n1 denominator exactly like ks_drift,
    * and the one IEEE division happens at the very end from exact
    * inputs. Bins are centi-integer values (the ksDrift convention),
    * zero-filled implicitly: one groupBy carries both halves, so a bin
    * seen in only one half contributes its full mass — no outer join,
    * no spine.
    *
    * Scale: the corpus collapses to (type, bin) counts in one partial+
    * final hash agg (bins are range-bounded, not corpus-bounded); the
    * time midpoint is one tiny global agg broadcast back. Drift per
    * day/week instead of half-vs-half is the same plan with the half
    * flag swapped for a bucketed epoch.
    */
  def tvdDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("event_type"), expr("ts DIV 1000").as("us"),
        centiValue.as("vb"))
    val mid = ev
      .agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid")) // exact integer midpoint (all-positive epochs)
    val flagged = ev
      .crossJoin(broadcast(mid))
      .withColumn("h", when(col("us") <= col("mid"), 0).otherwise(1))
    val binned = flagged
      .groupBy(col("event_type"), col("vb"))
      .agg(
        sum(when(col("h") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("c1")
      )
    // totals roll up from the bin counts — the events scan is NOT
    // re-aggregated a second time (round-3 verdict: the double scan
    // was 2x the corpus read at scale for a value derivable from
    // `binned`, which is bin-bounded, not corpus-bounded).
    val totals = binned
      .groupBy(col("event_type"))
      .agg(
        sum(col("c0")).as("n_first"),
        sum(col("c1")).as("n_second")
      )
    binned
      .join(broadcast(totals), Seq("event_type"))
      .withColumn(
        "d",
        abs(
          col("c0").cast(DecimalType(19, 0)) * col("n_second").cast(DecimalType(19, 0)) -
            col("c1").cast(DecimalType(19, 0)) * col("n_first").cast(DecimalType(19, 0))
        )
      )
      .groupBy(col("event_type"), col("n_first"), col("n_second"))
      .agg(sum(col("d")).cast("long").as("tvd_scaled"), count(lit(1)).as("n_bins"))
      .withColumn(
        "tvd",
        col("tvd_scaled").cast("double") /
          (lit(2.0) * col("n_first").cast("double") * col("n_second").cast("double"))
      )
  }

  /** Deterministic Poisson bootstrap of the per-type mean value — the
    * uncertainty-quantification step a metrics pipeline runs beside
    * every point estimate. Replica r reweights each event by a
    * Poisson(1)-distributed integer derived from
    * md5(event_id:r) mod 10⁴ against the fixed cumulative table
    * (3679/7358/9197/9810/9963/9994 → weights 0–6) — the standard
    * Poisson bootstrap (resampling n-out-of-n without materializing
    * copies), made reproducible on any engine by the hash coin. Every
    * emitted count/sum is an exact integer; the replica mean is one
    * IEEE division of two exact longs.
    *
    * Scale: the 16× replica expand is absorbed immediately by the
    * map-side partial aggregation (rows never leave their task
    * unexpanded) — this is WHY Poisson bootstrap exists: real
    * resampling would copy the corpus 16 times, this streams it once.
    */
  val BootstrapReplicas = 16

  def bootstrapMeans(spark: SparkSession, dir: String): DataFrame = {
    val coin =
      expr("CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':', " +
        "CAST(replica AS STRING))), 1, 15), 16, 10) AS BIGINT) % 10000")
    val weight = when(col("coin") < 3679, 0L)
      .when(col("coin") < 7358, 1L)
      .when(col("coin") < 9197, 2L)
      .when(col("coin") < 9810, 3L)
      .when(col("coin") < 9963, 4L)
      .when(col("coin") < 9994, 5L)
      .otherwise(6L)
    Tables
      .events(spark, dir)
      .select(col("event_id"), col("event_type"), centiValue.as("vc"))
      .withColumn("replica", explode(sequence(lit(0), lit(BootstrapReplicas - 1))))
      .withColumn("coin", coin)
      .withColumn("w", weight)
      .groupBy(col("event_type"), col("replica").cast("bigint").as("replica"))
      .agg(sum(col("w")).as("w_count"), sum(col("w") * col("vc")).as("w_sum_c"))
      .withColumn(
        "mean_c",
        col("w_sum_c").cast("double") / col("w_count").cast("double")
      )
  }

  /** Mann–Kendall trend test per event type — the nonparametric IS
    * THERE a monotone trend companion to theilsen_trend's HOW STEEP:
    * S = Σ_{i<j} sign(x_j − x_i) over the daily mean-value series,
    * with the tie-corrected variance 18·Var(S) = n(n−1)(2n+5) −
    * Σ_groups t(t−1)(2t+5). Every number is an integer: daily means
    * compare by cross-multiplication (sc_i·n_j vs sc_j·n_i — no
    * division), and the tie-group sum folds per day as
    * (t_day − 1)(2·t_day + 5) where t_day counts days sharing the
    * day's exact rational mean (each group of size t contributes t
    * such rows = t(t−1)(2t+5)).
    *
    * Scale: the corpus collapses to ≤ days·types daily rows first
    * (one map-side-combined agg); the pair and tie self-joins run
    * over DAYS (≤ 60² per type), never events. The p-value
    * normalization (S/√Var) is left to the caller — emitting only
    * integers keeps the gate exact.
    */
  def mannKendallTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(spark, dir)
      .select(col("event_type"), floorDiv(86400000000000L).as("day"), centiValue.as("vc"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vc")).as("sc"), count(lit(1)).as("n"))
      .localCheckpoint() // feeds the pair join (twice) and the tie count
    val a = daily.select(col("event_type"), col("day").as("day_a"),
      col("sc").as("sc_a"), col("n").as("n_a"))
    val b = daily.select(col("event_type"), col("day").as("day_b"),
      col("sc").as("sc_b"), col("n").as("n_b"))
    val cmpA = col("sc_a").cast(DecimalType(38, 0)) * col("n_b")
    val cmpB = col("sc_b").cast(DecimalType(38, 0)) * col("n_a")
    val s = a
      .join(b, Seq("event_type"))
      .filter(col("day_a") < col("day_b"))
      .select(
        col("event_type"),
        when(cmpB > cmpA, 1L).when(cmpB < cmpA, -1L).otherwise(0L).as("sgn")
      )
      .groupBy(col("event_type"))
      .agg(sum(col("sgn")).as("s_stat"))
    val ties = a
      .join(b, Seq("event_type"))
      .filter(cmpA === cmpB) // includes the self pair, so t_day >= 1
      .groupBy(col("event_type"), col("day_a"))
      .agg(count(lit(1)).as("t_day"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        sum((col("t_day") - 1) * (col("t_day") * 2 + 5)).as("tie_sum")
      )
    ties
      .join(s, Seq("event_type"))
      .select(
        col("event_type"),
        col("n_days"),
        col("s_stat"),
        (col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) - col("tie_sum"))
          .as("var18"),
        signum(col("s_stat")).cast("long").as("trend_sign")
      )
  }

  /** K-anonymity risk report over the event log — the governance gate
    * a dataset must clear before release. Quasi-identifier =
    * (event_type, hour-of-day, 50-unit value band): every class is a
    * set of rows an attacker can't tell apart, and its k = the number
    * of DISTINCT users inside. Per event type: class count, the
    * minimum k (worst re-identification exposure), classes and rows
    * below the k<5 safe-harbor line, and the floor-div ppm of rows a
    * k≥5 release would have to suppress. Hour-of-day and the value
    * band come from pure epoch/decimal integer arithmetic (the
    * weekdayProfile / centiValue discipline) — no calendar function
    * or float floor an engine pair could disagree on.
    *
    * Scale: one map-side-combined agg to the QI-class table (types ×
    * 24 × bands — small), except the COUNT(DISTINCT user_id), which
    * Spark plans as a two-phase expand+agg keyed by the QI — still
    * one shuffle of (class, user) pairs, no row-level state. The
    * rollup then folds classes per type. Scan-bound at 100 TB.
    */
  val KAnonThreshold = 5

  /** The QI-class projection shared by kAnonymity and lDiversity:
    * (event_type, hour-of-day, 50-unit value band) plus the row's
    * user and its sensitive attribute (the `$.k` prop).
    */
  private[graft] def qiClasses(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        (floorDiv(3600000000000L) % 24).as("hour_of_day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 5000").as("value_band"),
        col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("sensitive")
      )

  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityReport(
      qiClasses(spark, dir)
        .groupBy(col("event_type"), col("hour_of_day"), col("value_band"))
        .agg(countDistinct(col("user_id")).as("k"), count(lit(1)).as("n_rows"))
    )

  /** The per-type report stage over an already-built QI class table
    * (event_type, hour_of_day, value_band, k, n_rows) — shared by the
    * batch query and the streaming monitor's final-state twin
    * ([[graft.streaming.AnonStream]]), so both derive the report from
    * ONE definition.
    */
  private[graft] def kAnonymityReport(classes: DataFrame): DataFrame = {
    classes
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_classes"),
        min(col("k")).as("min_k"),
        sum(when(col("k") < KAnonThreshold, 1L).otherwise(0L)).as("risky_classes"),
        sum(when(col("k") < KAnonThreshold, col("n_rows")).otherwise(lit(0L)))
          .as("risky_rows"),
        sum(col("n_rows")).as("total_rows")
      )
      .select(
        col("event_type"),
        col("n_classes"),
        col("min_k"),
        col("risky_classes"),
        col("risky_rows"),
        expr("CAST(CAST(risky_rows AS DECIMAL(38,0)) * 1000000 div (total_rows) AS BIGINT)").as("suppress_ppm")
      )
  }

  /** L-diversity — k-anonymity's companion gate against ATTRIBUTE
    * disclosure: a class can hold k≥5 distinct users yet carry one
    * sensitive value (here the `$.k` prop), telling an attacker the
    * attribute without identifying anyone. Per event type: the
    * minimum l (distinct sensitive values per QI class), homogeneous
    * classes (l = 1) and their rows, and the floor-div ppm of rows in
    * classes below l<3 — the standard "well-represented" line.
    *
    * Scale: identical shape to kAnonymity — QI classes are the group
    * key, COUNT(DISTINCT sensitive) is a two-phase expand+agg, and
    * the rollup folds the small class table. Scan-bound at 100 TB.
    */
  /** Exact two-sample Mann–Whitney U between every pair of event
    * types' value distributions — the rank-based drift test that
    * complements ksDrift (KS feels the largest CDF gap; U feels a
    * median/stochastic-dominance shift, and is THE test when the
    * distribution shape is unknown). Ties get textbook midranks, and
    * everything stays in integers: with combined bin counts m_v and
    * the cumulative count C_v before bin v, an item in v has
    * 2·midrank = 2·C_v + m_v + 1, so 2·R_a = Σ a_v·(2C_v + m_v + 1)
    * and u2 = 2·U_a = 2·R_a − n_a(n_a+1) are exact longs (decimal-
    * mediated products). The AUC effect size U_a/(n_a·n_b) — the
    * probability a random A-value exceeds a random B-value — is the
    * single IEEE division at the end; the spec checks the U_a + U_b =
    * n_a·n_b identity that midranks guarantee.
    *
    * Scale: the ksDrift shape — the corpus collapses to (type,
    * centi-bin) counts first, the pair fan-out replicates only that
    * bounded table, the per-pair window runs over ≤ 2·bins rows.
    */
  def mannWhitneyDrift(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyFromBins(
      Tables
        .events(spark, dir)
        .select(col("event_type"), centiValue.as("vb"))
        .groupBy(col("event_type"), col("vb"))
        .agg(count(lit(1)).as("cnt"))
    )

  /** The streaming seam: the centi-bin expression (for a streaming
    * bin-count state) and the bins → U combinator, shared by the
    * batch query above and streaming.DriftStream so batch == stream
    * holds by construction.
    */
  private[graft] def centiBin: Column = centiValue

  private[graft] def mannWhitneyFromBins(bins: DataFrame): DataFrame = {
    val totals = bins.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
    val pairs = totals
      .select(col("event_type").as("type_a"), col("n").as("n_a"))
      .crossJoin(totals.select(col("event_type").as("type_b"), col("n").as("n_b")))
      .filter(col("type_a") < col("type_b"))
    val sideA = bins
      .join(broadcast(pairs), col("event_type") === col("type_a"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("vb"),
        col("cnt").as("a_v"), lit(0L).as("b_v"))
    val sideB = bins
      .join(broadcast(pairs), col("event_type") === col("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("vb"),
        lit(0L).as("a_v"), col("cnt").as("b_v"))
    val byPair = Window
      .partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sideA
      .unionAll(sideB)
      .groupBy(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("vb"))
      .agg(sum(col("a_v")).as("a_v"), sum(col("b_v")).as("b_v"))
      .withColumn("m_v", col("a_v") + col("b_v"))
      .withColumn("c_before", coalesce(sum(col("m_v")).over(byPair), lit(0L)))
      // 2·R_a accumulated per pair; all products fit DECIMAL(38,0)
      .groupBy(col("type_a"), col("type_b"), col("n_a"), col("n_b"))
      .agg(
        sum(
          col("a_v").cast(DecimalType(38, 0)) *
            (col("c_before").cast(DecimalType(38, 0)) * 2 + col("m_v") + 1)
        ).cast(DecimalType(38, 0)).as("r2_a")
      )
      .select(
        col("type_a"),
        col("type_b"),
        col("n_a"),
        col("n_b"),
        (col("r2_a") - col("n_a").cast(DecimalType(38, 0)) * (col("n_a") + 1))
          .cast("long")
          .as("u2_a")
      )
      .withColumn(
        "auc_a",
        col("u2_a").cast("double") / (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double"))
      )
  }

  /** Cramér's V association strength between the event log's
    * categorical attributes (type × weekday, type × hour-of-day,
    * weekday × hour-of-day) — the screening statistic for "is this
    * feature informative or independent?" before a mixture/stratified
    * design keys on it. χ² accumulates per cell as
    * ((o·n − r·c)² · 10⁶) div (r·c·n) — cross-multiplied so no
    * expected-count float appears; the per-cell floor-div-then-sum is
    * the deterministic contract (identical in any engine), and V =
    * sqrt(χ²ppm/10⁶ / (n·min(R−1,C−1))) is the single float at the
    * end. Attributes come from the same epoch arithmetic as
    * weekdayProfile/kAnonymity.
    *
    * Scale: ONE corpus scan collapses to (type, weekday, hour)
    * counts — ≤ types·7·24 rows; every contingency table, margin, and
    * χ² then derives from that tiny cube (re-aggregation, broadcast
    * joins). Adding attribute pairs costs nothing at 100 TB.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val cube = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        ((floorDiv(86400000000000L) + 4) % 7).as("weekday"),
        (floorDiv(3600000000000L) % 24).as("hour_of_day")
      )
      .groupBy(col("event_type"), col("weekday"), col("hour_of_day"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()

    def pair(name: String, x: String, y: String): DataFrame = {
      val o = cube
        .groupBy(col(x).cast("string").as("x"), col(y).cast("string").as("y"))
        .agg(sum(col("cnt")).as("o"))
      val rTot = o.groupBy(col("x")).agg(sum(col("o")).as("r"))
      val cTot = o.groupBy(col("y")).agg(sum(col("o")).as("c"))
      val n = o.agg(sum(col("o")).as("n"), countDistinct(col("x")).as("nr"),
        countDistinct(col("y")).as("nc"))
      // the full margin grid, not just observed cells: an (x, y) with
      // o = 0 still contributes (r·c)²/(r·c·n) to chi-squared
      rTot
        .crossJoin(cTot)
        .join(o, Seq("x", "y"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(n))
        .select(
          expr(
            """CAST(((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) *
              |      (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) * 1000000)
              |     div (CAST(r AS DECIMAL(38,0)) * c * n) AS BIGINT)""".stripMargin
          ).as("cell"),
          col("n"),
          col("nr"),
          col("nc")
        )
        .groupBy(col("n"), col("nr"), col("nc"))
        .agg(sum(col("cell")).as("chi2_ppm"))
        .select(
          lit(name).as("attr_pair"),
          col("n").as("n_rows"),
          ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
          col("chi2_ppm"),
          sqrt(
            col("chi2_ppm").cast("double") / lit(1000000.0) /
              (col("n") * least(col("nr") - 1, col("nc") - 1)).cast("double")
          ).as("cramers_v")
        )
    }

    pair("type_x_weekday", "event_type", "weekday")
      .unionAll(pair("type_x_hour", "event_type", "hour_of_day"))
      .unionAll(pair("weekday_x_hour", "weekday", "hour_of_day"))
  }

  val LDivThreshold = 3

  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val classes = qiClasses(spark, dir)
      .groupBy(col("event_type"), col("hour_of_day"), col("value_band"))
      .agg(countDistinct(col("sensitive")).as("l"), count(lit(1)).as("n_rows"))
    classes
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_classes"),
        min(col("l")).as("min_l"),
        sum(when(col("l") === 1, 1L).otherwise(0L)).as("homogeneous_classes"),
        sum(when(col("l") === 1, col("n_rows")).otherwise(lit(0L))).as("homogeneous_rows"),
        sum(when(col("l") < LDivThreshold, col("n_rows")).otherwise(lit(0L)))
          .as("low_div_rows"),
        sum(col("n_rows")).as("total_rows")
      )
      .select(
        col("event_type"),
        col("n_classes"),
        col("min_l"),
        col("homogeneous_classes"),
        col("homogeneous_rows"),
        expr("CAST(CAST(low_div_rows AS DECIMAL(38,0)) * 1000000 div (total_rows) AS BIGINT)").as("low_div_ppm")
      )
  }

  /** Per-column data profile of the events table — the ingestion
    * health report every pipeline runs before anything else: row
    * count, null count, and exact distinct cardinality per column,
    * plus the extracted `props.k` JSON field (schema-on-read
    * profiled like a real column).
    *
    * Scale: exactly TWO corpus scans (down from one per column in the
    * round-5 form — 7 footer+decode passes at 100 TB), neither with
    * an Expand (the approx_stats lesson: one aggregate mixing six
    * COUNT(DISTINCT)s would multiply the scan 7x):
    *  1. counts pass — ONE full-width scan partial-aggregates
    *     n_rows + per-column non-null counts into a single row (no
    *     distinct aggregate, so no Expand), then `stack`s the 1-row
    *     result into per-column rows driver-free.
    *  2. distincts pass — `stack` unpivots the scan into (col, typed
    *     value) rows and ONE single-distinct aggregate per column
    *     group counts tuples. Values stay NATIVE-typed in a 3-slot
    *     (long, double, string) struct — no lossy string cast — so
    *     distinct semantics (float normalization, null exclusion via
    *     the when-guard) are exactly the per-column form's. The
    *     shuffle carries map-side-deduped (col, value) pairs — the
    *     same aggregate volume the per-column variants shuffled, now
    *     behind a single read.
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val propsK = get_json_object(col("props"), "$.k")
    val cols: Seq[(String, Column, String)] = Seq( // (name, expr, type slot)
      ("event_id", col("event_id"), "l"),
      ("ts", col("ts"), "l"),
      ("user_id", col("user_id"), "l"),
      ("event_type", col("event_type"), "s"),
      ("value", col("value"), "d"),
      ("props", col("props"), "s"),
      ("props_k", propsK, "s")
    )
    val counts = ev
      .agg(
        count(lit(1)).as("n_rows"),
        cols.map { case (n, c, _) => count(c).as(s"c_$n") }: _*
      )
      .select(
        col("n_rows"),
        expr(
          "stack(" + cols.size + ", " +
            cols.map { case (n, _, _) => s"'$n', c_$n" }.mkString(", ") +
            ") AS (col, n_nonnull)")
      )
      .select(col("col"), col("n_rows"), (col("n_rows") - col("n_nonnull")).as("n_nulls"))
    // stack, not explode(array(structs)): InferFiltersFromGenerate
    // synthesizes a size()>0 filter for explode that re-evaluates the
    // whole array expression per row (measured 50x on another query);
    // stack is not an ExplodeBase, so no filter is inferred.
    def slotSql(n: String, t: String): String = {
      val vl = if (t == "l") n else "CAST(NULL AS BIGINT)"
      val vd = if (t == "d") n else "CAST(NULL AS DOUBLE)"
      val vs = if (t == "s") n else "CAST(NULL AS STRING)"
      s"'$n', $vl, $vd, $vs"
    }
    val distincts = ev
      .withColumn("props_k", propsK)
      .selectExpr(
        "stack(" + cols.size + ", " +
          cols.map { case (n, _, t) => slotSql(n, t) }.mkString(", ") +
          ") AS (col, vl, vd, vs)")
      .groupBy(col("col"))
      .agg(
        countDistinct(
          when(col("vl").isNotNull || col("vd").isNotNull || col("vs").isNotNull,
            struct(col("vl"), col("vd"), col("vs")))
        ).as("n_distinct"))
    // LEFT join + coalesce: on an empty events table the distincts
    // pass yields no groups (groupBy over an empty unpivot), and an
    // inner join would silently drop the 7-row per-column contract
    // that the pre-rewrite per-column form guaranteed.
    counts.join(distincts, Seq("col"), "left")
      .select(
        col("col"),
        col("n_rows"),
        col("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
  }

  /** Skew SALTING plan for the hot grouping dimension: per event_type
    * (the few-dominating-values key that defeats hash partitioning),
    * the salt factor that caps any single reduce task at
    * [[SaltTargetRows]] rows and the resulting per-task row bound —
    * the exact parameters [[Skew.saltedSumByKey]] /
    * [[Skew.saltedEquiJoin]] consume. At 100 TB this is the
    * run-before-the-job planning query: a key histogram costs one
    * partial-agg shuffle (combiner-collapsed: |key domain| rows move,
    * not the corpus), and choosing factors from it turns a
    * one-straggler reduce into factor-way parallelism with bounded
    * task memory — the aggregation twin of AQE's join-side skew
    * split, which does NOT cover hash aggregates on hot keys.
    *
    * All integer: factor = ceil via (n + T−1) DIV T, per-task bound
    * = ceil(n / factor) — both engine-identical floor arithmetic.
    */
  val SaltTargetRows = 256

  def saltingPlan(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn(
        "salt_factor",
        expr(s"CAST((n_rows + ${SaltTargetRows - 1}) DIV $SaltTargetRows AS BIGINT)")
      )
      .withColumn(
        "rows_per_task",
        expr("CAST((n_rows + salt_factor - 1) DIV salt_factor AS BIGINT)")
      )

  /** t-closeness threshold (ppm of the [0,1] ordered-EMD scale). */
  private[graft] val TClosePpm = 250000L

  /** t-CLOSENESS — the third leg of the privacy triad beside
    * [[kAnonymity]] and [[lDiversity]]: per QI class, the ORDERED
    * earth-mover distance between the class's sensitive-value
    * distribution and the corpus-global one,
    * t = (1/(m−1))·Σ_i |CumF_class(v_i) − CumF_global(v_i)| over the
    * sorted global domain. k hides WHO, l guarantees variety; t caps
    * what the class's distribution itself discloses (a class can be
    * k-anonymous and l-diverse yet still skew hard toward one
    * sensitive range — that skew is the leak t measures).
    *
    * Integer-exact: the cumulative comparison is cross-multiplied
    * (|CumC·G − CumG·N_c|, all BIGINT — the Mann–Whitney/Cramér's V
    * arithmetic discipline), one DECIMAL-mediated floor division at
    * the end.
    *
    * Scale: the corpus collapses to (class, sensitive) counts first
    * (bounded bins: the sensitive domain is m = |props.k| ≤ 100 by
    * construction); the grid is classes × m via a broadcast of the m
    * global rows; the cumulative window is per-class (partitioned, m
    * rows each — never corpus-wide).
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val qi = Seq(col("event_type"), col("hour_of_day"), col("value_band"))
    val rows = qiClasses(spark, dir)
      .filter(col("sensitive").isNotNull)
      .select(qi :+ col("sensitive"): _*)
    val cc = rows
      .groupBy(qi :+ col("sensitive"): _*)
      .agg(count(lit(1)).as("c"))
    val ct = cc.groupBy(qi: _*).agg(sum(col("c")).as("n_c"))
    val gc = rows.groupBy(col("sensitive")).agg(count(lit(1)).as("g"))
    val gt = gc.agg(sum(col("g")).as("big_g"), count(lit(1)).as("m"))
    val grid = ct
      .crossJoin(broadcast(gc))
      .join(cc, Seq("event_type", "hour_of_day", "value_band", "sensitive"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window
      .partitionBy(qi: _*)
      .orderBy(col("sensitive").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = grid
      .withColumn("cum_c", sum(col("c")).over(w))
      .withColumn("cum_g", sum(col("g")).over(w))
      .crossJoin(broadcast(gt))
      .groupBy(qi ++ Seq(col("n_c"), col("big_g"), col("m")): _*)
      .agg(sum(abs(col("cum_c") * col("big_g") - col("cum_g") * col("n_c"))).as("num"))
      .withColumn(
        "t_ppm",
        expr(
          "CAST(CAST(num AS DECIMAL(38,0)) * 1000000 DIV (n_c * big_g * (m - 1)) AS BIGINT)"
        )
      )
    t.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_classes"),
        max(col("t_ppm")).as("max_t_ppm"),
        sum(when(col("t_ppm") > TClosePpm, 1L).otherwise(0L)).as("risky_classes"),
        sum(when(col("t_ppm") > TClosePpm, col("n_c")).otherwise(lit(0L))).as("rr"),
        sum(col("n_c")).as("tot")
      )
      .select(
        col("event_type"),
        col("n_classes"),
        col("max_t_ppm"),
        col("risky_classes"),
        expr("CAST(CAST(rr AS DECIMAL(38,0)) * 1000000 DIV tot AS BIGINT)")
          .as("risky_rows_ppm")
      )
  }
}
