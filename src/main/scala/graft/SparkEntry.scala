package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.MultimodalOps

/** The board contract: `SparkEntry.registry` pairs each board query
  * with its DuckDB oracle; see SURVEY.md §7.
  *
  * Conventions every registry entry keeps between its query and oracle:
  *   - every derived column is explicitly aliased, identically in Spark
  *     and SQL (the driver's compare sorts columns by name);
  *   - derived integers are BIGINT on both sides (Spark `size`/
  *     `row_number` would otherwise be int32 vs DuckDB's int64);
  *   - cross-row double sums go through DECIMAL(38,10) (exact,
  *     order-independent) then back to double — see RelationalOps;
  *   - timestamps in outputs become epoch-seconds BIGINT columns
  *     (Spark µs vs DuckDB ns precision would differ raw).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.pricingSummary(spark, "/root/testdata/sf0.001")

  /** A board query: (session, scale-factor directory) => result. */
  type Query = (SparkSession, String) => DataFrame

  /** The board: one entry per implemented operator from SURVEY.md §2,
    * `name -> (query, oracle)`. The oracle is the query's DuckDB twin
    * over the same table names, with the same column aliases. A `Seq`
    * rather than a map literal, so a repeated name is a test failure
    * (RegistrySpec) instead of a silently dropped entry.
    */
  private[graft] val registry: Seq[(String, (Query, String))] = Seq(
    // Relational suite (SURVEY.md §2C categories the reference lacks)
    "q1_pricing_summary" -> (RelationalOps.pricingSummary,
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)/COUNT(l_extendedprice) AS avg_price,
        | CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)/COUNT(l_discount) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    "q3_top_revenue_orders" -> (RelationalOps.revenueTopOrders,
      """SELECT l_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch, revenue FROM (
        | SELECT l_orderkey, o_orderdate,
        |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        | GROUP BY l_orderkey, o_orderdate)
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),
    "q5_region_revenue" -> (RelationalOps.regionRevenue,
      """SELECT n_name,
        | CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE s_nationkey = c_nationkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        | AND r_regionkey <= 2
        |GROUP BY n_name""".stripMargin),
    "semi_join_big_orders" -> (RelationalOps.ordersWithBigLines,
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45.0)
        |GROUP BY o_orderstatus""".stripMargin),
    "anti_join_idle_customers" -> (RelationalOps.customersWithoutOrders,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')""".stripMargin),
    "window_top3_parts" -> (RelationalOps.top3PartsPerSupplier,
      """SELECT l_suppkey, l_partkey, revenue, rnk FROM (
        | SELECT l_suppkey, l_partkey, revenue,
        |  ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |                     ORDER BY revenue DESC, l_partkey ASC) AS rnk
        | FROM (SELECT l_suppkey, l_partkey,
        |        CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
        |       FROM lineitem GROUP BY l_suppkey, l_partkey))
        |WHERE rnk <= 3""".stripMargin),
    "window_running_total" -> (RelationalOps.customerRunningTotal,
      """SELECT o_custkey, o_orderkey,
        | CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
        |      OVER (PARTITION BY o_custkey
        |            ORDER BY o_orderdate ASC, o_orderkey ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
        |  AS running_total
        |FROM orders WHERE o_custkey < 100""".stripMargin),
    "topk_orders" -> (RelationalOps.topOrdersByPrice,
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    "rollup_returns" -> (RelationalOps.rollupReturns,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    "distinct_parts" -> (RelationalOps.distinctParts,
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    "setop_lapsed_buyers" -> (RelationalOps.setOpCustomers,
      """SELECT o_custkey FROM (
        | SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        | EXCEPT
        | SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 2000)""".stripMargin),
    "above_avg_lines" -> (RelationalOps.aboveAvgLines,
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN (
        | SELECT l_partkey AS ap_partkey,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)/COUNT(l_quantity) AS avg_qty
        | FROM lineitem GROUP BY l_partkey) ON l_partkey = ap_partkey
        |WHERE l_quantity > avg_qty * 1.8
        |GROUP BY l_returnflag""".stripMargin),
    "supplier_stats" -> (RelationalOps.supplierStats,
      """SELECT l_suppkey, n, sum_price, sum_price / n AS avg_price,
        | CASE WHEN n > 1
        |      THEN sqrt((sum_sq - sum_price * sum_price / n) / (n - 1))
        |      ELSE NULL END AS stddev_price
        |FROM (SELECT l_suppkey, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |       CAST(CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(38,5))) AS VARCHAR) AS DOUBLE) AS sum_sq
        |      FROM lineitem GROUP BY l_suppkey)""".stripMargin),
    "grouping_sets_returns" -> (RelationalOps.groupingSetsReturns,
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        | COUNT(*) AS n,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
    "median_mode_orders" -> (RelationalOps.medianModeOrders,
      """WITH med AS MATERIALIZED (
        | SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS median_price,
        |  COUNT(*) AS n_orders
        | FROM orders GROUP BY o_orderstatus),
        |mode AS (
        | SELECT o_orderstatus, mode_priority, mode_count FROM (
        |  SELECT o_orderstatus, o_orderpriority AS mode_priority, COUNT(*) AS mode_count,
        |   ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |                      ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rnk
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        | WHERE rnk = 1)
        |SELECT o_orderstatus, median_price, n_orders, mode_priority, mode_count
        |FROM med JOIN mode USING (o_orderstatus)""".stripMargin),
    "window_range_7d" -> (RelationalOps.rolling7dSpend,
      """SELECT o_custkey, o_orderkey,
        | CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS epoch_day,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
        |      OVER (PARTITION BY o_custkey
        |            ORDER BY CAST(epoch(o_orderdate) AS BIGINT) // 86400
        |            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
        |  AS spend_7d
        |FROM orders WHERE o_custkey < 100""".stripMargin),
    "setop_except_all" -> (RelationalOps.exceptAllBuyers,
      """SELECT o_custkey, COUNT(*) AS n_net_orders FROM (
        | SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        | EXCEPT ALL
        | SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 2000)
        |GROUP BY o_custkey""".stripMargin),
    "stats_corr" -> (RelationalOps.corrStats, Oracles2.statsCorr),
    "price_histogram" -> (RelationalOps.priceHistogram, Oracles2.priceHistogram),
    "window_rank_suite" -> (RelationalOps.rankSuite, Oracles2.rankSuite),
    "window_order_gaps" -> (RelationalOps.orderGaps, Oracles4.orderGaps),
    "full_outer_nation" -> (RelationalOps.fullOuterNationBalance,
      """SELECT COALESCE(cn, sn) AS nationkey,
        | COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS cn, COUNT(*) AS n_cust FROM customer
        |      WHERE c_acctbal > 7500.0 GROUP BY c_nationkey) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS sn, COUNT(*) AS n_supp FROM supplier
        |      WHERE s_acctbal > 7500.0 GROUP BY s_nationkey) s
        |ON cn = sn""".stripMargin),
    "intersect_loyal_buyers" -> (RelationalOps.loyalBuyers,
      """SELECT o_custkey FROM (
        | SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        | INTERSECT
        | SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 2000)""".stripMargin),
    "q4_late_orders" -> (RelationalOps.latePriorityOrders,
      """SELECT o_orderpriority, COUNT(*) AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (
        | SELECT 1 FROM lineitem l
        | WHERE l.l_orderkey = o.o_orderkey
        |  AND CAST(epoch(l.l_shipdate) AS BIGINT) > CAST(epoch(o.o_orderdate) AS BIGINT) + 5184000)
        |GROUP BY o_orderpriority""".stripMargin),
    "q19_disjunctive_revenue" -> (RelationalOps.disjunctivePredicateRevenue,
      """SELECT p_brand, COUNT(*) AS n_items,
        | CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
        |GROUP BY p_brand""".stripMargin),
    "q16_supplier_variety" -> (RelationalOps.supplierVariety,
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        | AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size""".stripMargin),
    "q22_wealthy_idle" -> (RelationalOps.wealthyIdleCustomers,
      """WITH t AS MATERIALIZED (
        | SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
        |        / COUNT(c_acctbal) AS avg_bal
        | FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS totacctbal
        |FROM customer, t
        |WHERE c_acctbal > t.avg_bal
        | AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                       WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
        |GROUP BY c_nationkey""".stripMargin),
    "q21_waiting_suppliers" -> (RelationalOps.waitingSuppliers,
      """WITH per AS MATERIALIZED (
        | SELECT l_orderkey,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT CASE WHEN CAST(epoch(l_shipdate) AS BIGINT)
        |        > CAST(epoch(o_orderdate) AS BIGINT) + 5184000 THEN l_suppkey END) AS n_late,
        |  MAX(CASE WHEN CAST(epoch(l_shipdate) AS BIGINT)
        |        > CAST(epoch(o_orderdate) AS BIGINT) + 5184000 THEN l_suppkey END) AS late_suppkey
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY l_orderkey)
        |SELECT late_suppkey AS s_suppkey, COUNT(*) AS numwait
        |FROM per WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY late_suppkey""".stripMargin),
    // the priority predicate lives in the ON clause: a post-join WHERE
    // would turn the left join back into an inner one
    "q13_order_distribution" -> (RelationalOps.orderCountDistribution,
      """SELECT c_count, COUNT(*) AS custdist FROM (
        | SELECT c_custkey, COUNT(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        | GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin),
    "dq_checks" -> (RelationalOps.dqChecks,
      """SELECT 'customer_negative_balance' AS check,
        | CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        | COUNT(*) AS n_total FROM customer
        |UNION ALL
        |SELECT 'supplier_negative_balance',
        | CAST(SUM(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
        |FROM supplier
        |UNION ALL
        |SELECT 'lineitem_discount_range',
        | CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(*) FROM lineitem
        |UNION ALL
        |SELECT 'document_nchars_mismatch',
        | CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
        |FROM documents
        |UNION ALL
        |SELECT 'lineitem_orphan_order',
        | CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |UNION ALL
        |SELECT 'order_orphan_customer',
        | CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin),
    "flag_profile" -> (RelationalOps.flagProfile, Oracles4.flagProfile),
    "hier_rollup" -> (RelationalOps.hierRollup,
      """WITH RECURSIVE anc(node, c_acctbal) AS (
        | SELECT c_custkey AS node, c_acctbal FROM customer
        | UNION ALL
        | SELECT node // 2 AS node, c_acctbal FROM anc WHERE node > 1)
        |SELECT node, COUNT(*) AS subtree_size,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS subtree_bal
        |FROM anc WHERE node < 64
        |GROUP BY node""".stripMargin),
    "q18_large_orders" -> (RelationalOps.largeQuantityOrders,
      """SELECT c_custkey, o_orderkey,
        | CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch,
        | o_totalprice, total_qty
        |FROM orders
        | JOIN (SELECT l_orderkey,
        |        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
        |         AS total_qty
        |       FROM lineitem GROUP BY l_orderkey
        |       HAVING total_qty > 250.0) ON o_orderkey = l_orderkey
        | JOIN customer ON o_custkey = c_custkey""".stripMargin),
    "q20_excess_suppliers" -> (RelationalOps.excessShareSuppliers,
      """WITH per AS MATERIALIZED (
        | SELECT l_partkey, l_suppkey,
        |  CAST(SUM(CAST(round(l_quantity * 100.0) AS BIGINT)) AS BIGINT) AS sq100
        | FROM lineitem GROUP BY l_partkey, l_suppkey),
        |w AS MATERIALIZED (
        | SELECT l_partkey, l_suppkey, sq100,
        |  CAST(SUM(sq100) OVER (PARTITION BY l_partkey) AS BIGINT) AS tot100,
        |  COUNT(*) OVER (PARTITION BY l_partkey) AS nsupp
        | FROM per)
        |SELECT l_suppkey AS s_suppkey, COUNT(*) AS n_excess_parts,
        | MAX(CAST(sq100 AS DOUBLE) / CAST(tot100 AS DOUBLE)) AS max_share
        |FROM w WHERE sq100 * nsupp > tot100 * 2
        |GROUP BY l_suppkey""".stripMargin),
    // TpchOps: the remaining TPC-H shapes (full 22-query sweep with the above)
    "q2_min_cost_supplier" -> (TpchOps.minCostSupplier, Oracles3.minCostSupplier),
    "q6_forecast_revenue" -> (TpchOps.forecastRevenue, Oracles3.forecastRevenue),
    "q7_nation_volume" -> (TpchOps.nationVolume, Oracles3.nationVolume),
    "q8_market_share" -> (TpchOps.marketShare, Oracles3.marketShare),
    "q9_product_profit" -> (TpchOps.productProfit, Oracles3.productProfit),
    "q10_returned_items" -> (TpchOps.returnedItems, Oracles3.returnedItems),
    "q11_important_parts" -> (TpchOps.importantParts, Oracles3.importantParts),
    "q12_shipping_priority" -> (TpchOps.shippingPriority, Oracles3.shippingPriority),
    "q14_promo_effect" -> (TpchOps.promoEffect, Oracles3.promoEffect),
    "q15_top_supplier" -> (TpchOps.topSupplier, Oracles3.topSupplier),
    "q17_small_qty_revenue" -> (TpchOps.smallQtyRevenue, Oracles3.smallQtyRevenue),
    "ship_lag_sla" -> (TpchOps.shipLagSla, Oracles3.shipLagSla),
    // salting is an implementation detail: the plain join/agg IS the oracle
    "skew_salted_join" -> (RelationalOps.saltedSupplierRevenue,
      """SELECT s_nationkey, COUNT(*) AS n_lines,
        | CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin),
    "skew_salted_agg" -> (RelationalOps.saltedFlagTotals,
      """SELECT l_returnflag,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin),
    // sketch values are engine-specific, so the query emits accuracy
    // certificates (booleans: sketch within error envelope of exact)
    // the oracle asserts as TRUE literals; DuckDB re-derives only the
    // exact columns. A sketch outside its envelope flips a boolean in
    // the Spark output and the hash gate goes red — see
    // RelationalOps.approxStats
    "approx_stats" -> (RelationalOps.approxStats,
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        | TRUE AS parts_ok, TRUE AS supps_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // Reference queries (P1 wc, P2 indexer) on the documents corpus
    "wc_documents" -> (TextOps.wordCount,
      """SELECT word, COUNT(*) AS cnt FROM (
        | SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word""".stripMargin),
    "wc_kernel" -> (TextOps.wordCountViaKernel,
      """SELECT word, COUNT(*) AS cnt FROM (
        | SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word""".stripMargin),
    // the SQL-visible mr_map Generator must reproduce the kernel's
    // word count exactly — one oracle, two engine transports
    "mr_map_sql" -> (TextOps.wordCountViaSqlMap,
      """SELECT word, COUNT(*) AS cnt FROM (
        | SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word""".stripMargin),
    "inverted_index" -> (TextOps.invertedIndex,
      """SELECT word, COUNT(DISTINCT doc_id) AS n_docs,
        | array_to_string(list_sort(list_distinct(list(doc_id))), ',') AS docs
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
        |      FROM documents)
        |WHERE word <> '' GROUP BY word""".stripMargin),
    // doc ids sorted as VARCHAR: the kernel's Indexer sorts its
    // filename strings lexically (reference plugins/indexer.go:39)
    "indexer_kernel" -> (TextOps.invertedIndexViaKernel,
      """SELECT word, COUNT(DISTINCT doc_id) AS n_docs,
        | array_to_string(list_sort(list_distinct(list(CAST(doc_id AS VARCHAR)))), ',') AS docs
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
        |      FROM documents)
        |WHERE word <> '' GROUP BY word""".stripMargin),
    // Text analysis suite
    "lang_id" -> (TextOps.langId,
      """WITH scored AS MATERIALIZED (
        | SELECT doc_id,
        |  len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is'))) AS n_en,
        |  len(list_filter(toks, t -> t IN ('el','la','de','los','es','y','que'))) AS n_es,
        |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein'))) AS n_de,
        |  len(list_filter(toks, t -> t IN ('le','les','et','des','une','est','dans'))) AS n_fr,
        |  len(list_filter(toks, t -> t IN ('de','shi','le','zai','you','wo','ta'))) AS n_zh
        | FROM (SELECT doc_id,
        |        list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), t -> t <> '') AS toks
        |       FROM documents))
        |SELECT doc_id,
        | CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr AND n_en >= n_zh THEN 'en'
        |      WHEN n_es >= n_de AND n_es >= n_fr AND n_es >= n_zh THEN 'es'
        |      WHEN n_de >= n_fr AND n_de >= n_zh THEN 'de'
        |      WHEN n_fr >= n_zh THEN 'fr'
        |      ELSE 'zh' END AS pred_lang,
        | n_en, n_es, n_de, n_fr, n_zh
        |FROM scored""".stripMargin),
    "quality_score" -> (TextOps.qualityScore,
      """WITH base AS (
        | SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), t -> t <> '') AS toks
        | FROM documents),
        |counts AS (
        | SELECT doc_id, text, len(toks) AS n_words,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  len(list_filter(toks, t -> t IN
        |    ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS n_stop
        | FROM base),
        |ratios AS (
        | SELECT doc_id, n_words, n_punct, n_stop,
        |  CASE WHEN n_words > 0
        |       THEN CAST(n_stop AS DOUBLE)/CAST(n_words AS DOUBLE) ELSE 0.0 END AS stop_ratio,
        |  CASE WHEN length(text) > 0
        |       THEN CAST(n_punct AS DOUBLE)/CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio
        | FROM counts)
        |SELECT doc_id, n_words, n_punct, n_stop, stop_ratio, punct_ratio,
        | (CASE WHEN n_words >= 5 THEN 1.0 ELSE 0.0 END) * (1.0 - punct_ratio) * (0.5 + stop_ratio)
        |  AS quality
        |FROM ratios""".stripMargin),
    "quality_vs_dup" -> (TextOps.qualityVsDup, Oracles7.qualityVsDup),
    "source_divergence" -> (TextOps.sourceDivergence, Oracles7.sourceDivergence),
    "quality_percentile" -> (TextOps.qualityPercentile, Oracles4.qualityPercentile),
    "split_drift" -> (TextOps.splitDrift, Oracles4.splitDrift),
    "token_count" -> (TextOps.tokenCount,
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS ws_tokens,
        | len(regexp_extract_all(text, '[\p{L}]+|[0-9]|[^\p{L}0-9\s]')) AS bpe_tokens,
        | CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS est_tokens
        |FROM documents""".stripMargin),
    "doc_fingerprint" -> (TextOps.fingerprint,
      """SELECT doc_id, md5(norm) AS fp_md5,
        | CAST(CAST(concat('0x', substr(md5(norm), 1, 15)) AS UBIGINT) AS BIGINT) AS fp60
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |      FROM documents)""".stripMargin),
    "tfidf_top_terms" -> (((s, d) => TextOps.tfidfTopTerms(s, d)), Oracles2.tfidfTopTerms),
    "data_split" -> (TextOps.dataSplit,
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        | lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |             AS UBIGINT) % 100 AS INT) AS b, lang, n_chars
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin),
    "training_prep" -> (TextOps.trainingPrep,
      """WITH base AS (
        | SELECT doc_id, lang, n_chars, text,
        |  list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), t -> t <> '') AS toks
        | FROM documents),
        |counts AS (
        | SELECT doc_id, lang, n_chars, text, len(toks) AS n_words,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  len(list_filter(toks, t -> t IN
        |    ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS n_stop
        | FROM base),
        |scored AS MATERIALIZED (
        | SELECT doc_id, lang, n_chars, text,
        |  (CASE WHEN n_words >= 5 THEN 1.0 ELSE 0.0 END)
        |   * (1.0 - CASE WHEN length(text) > 0
        |            THEN CAST(n_punct AS DOUBLE)/CAST(length(text) AS DOUBLE) ELSE 0.0 END)
        |   * (0.5 + CASE WHEN n_words > 0
        |            THEN CAST(n_stop AS DOUBLE)/CAST(n_words AS DOUBLE) ELSE 0.0 END) AS quality
        | FROM counts),
        |kept AS MATERIALIZED (
        | SELECT doc_id, lang, n_chars,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        | FROM scored WHERE quality >= 0.55),
        |keepers AS (
        | SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars, MIN(doc_id) OVER (PARTITION BY fp) AS keeper_id FROM kept)
        | WHERE doc_id = keeper_id)
        |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        | lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |             AS UBIGINT) % 100 AS INT) AS b, lang, n_chars
        |      FROM keepers)
        |GROUP BY 1, 2""".stripMargin),
    "split_leakage" -> (TextOps.splitLeakage, Oracles2.splitLeakage),
    // parallel UNNESTs zip (token, position); runs via gaps-and-islands
    "repetition_stats" -> (TextOps.repetitionStats,
      """WITH base AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), t -> t <> '') AS toks
        | FROM documents),
        |toks AS MATERIALIZED (
        | SELECT doc_id, UNNEST(toks) AS tok,
        |  UNNEST(generate_series(1, len(toks))) AS pos FROM base),
        |tc AS MATERIALIZED (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
        |top AS MATERIALIZED (SELECT doc_id, tok AS top_word, c AS top_n FROM (
        |  SELECT doc_id, tok, c,
        |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, tok ASC) AS rnk FROM tc)
        | WHERE rnk = 1),
        |totals AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |  COUNT(*) AS n_distinct FROM tc GROUP BY doc_id),
        |brk AS (SELECT doc_id, pos, tok,
        |  CASE WHEN tok = lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
        |       THEN 0 ELSE 1 END AS b FROM toks),
        |isl AS (SELECT doc_id,
        |  SUM(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
        | FROM brk),
        |runs AS (SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_run FROM (
        |  SELECT doc_id, run_id, COUNT(*) AS run_len FROM isl GROUP BY doc_id, run_id)
        | GROUP BY doc_id)
        |SELECT doc_id,
        | COALESCE(n_words, 0) AS n_words, COALESCE(n_distinct, 0) AS n_distinct,
        | COALESCE(top_word, '') AS top_word, COALESCE(top_n, 0) AS top_n,
        | COALESCE(max_run, 0) AS max_run,
        | (COALESCE(n_words, 0) >= 20 AND COALESCE(top_n, 0)*5 <= COALESCE(n_words, 0)
        |  AND COALESCE(n_distinct, 0)*5 >= COALESCE(n_words, 0)
        |  AND COALESCE(max_run, 0) <= 2) AS keep
        |FROM (SELECT doc_id FROM documents) d
        | LEFT JOIN totals USING (doc_id)
        | LEFT JOIN top USING (doc_id)
        | LEFT JOIN runs USING (doc_id)""".stripMargin),
    "domain_mix" -> (TextOps.domainMix,
      """SELECT source, weight_pct, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN coin < weight_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        | CAST(SUM(CASE WHEN coin < weight_pct THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
        |FROM (SELECT source,
        |  CAST(CAST(concat('0x', substr(md5(source), 1, 15)) AS UBIGINT) % 80 + 20 AS BIGINT)
        |   AS weight_pct,
        |  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100
        |   AS BIGINT) AS coin,
        |  n_chars FROM documents)
        |GROUP BY source, weight_pct""".stripMargin),
    "vocab_nucleus" -> (TextOps.vocabNucleus, Oracles2.vocabNucleus),
    "oov_rate" -> (TextOps.oovRate, Oracles2.oovRate),
    "bigram_transitions" -> (TextOps.bigramTransitions, Oracles2.bigramTransitions),
    "typo_pairs" -> (TextOps.typoPairs, Oracles2.typoPairs),
    "typo_rewrite" -> (TextOps.typoRewriteMapArtifact, Oracles10.typoRewrite),
    "weighted_sample_aes" -> (TextOps.weightedSampleAes, Oracles10.weightedSampleAes),
    "seq_packing" -> (TextOps.seqPacking, Oracles2.seqPacking),
    "seq_packing_bpe" -> (TextOps.seqPackingBpe, Oracles11.seqPackingBpe),
    "pmi_pairs" -> (TextOps.pmiPairs, Oracles4.pmiPairs),
    "bpe_merges" -> (TextOps.bpeMerges, Oracles4.bpeMerges),
    "pack_offsets" -> (TextOps.packOffsets,
      """WITH d AS MATERIALIZED (
        | SELECT doc_id, source,
        |  CAST(len(regexp_extract_all(regexp_replace(text, '[^ -~]', ' ', 'g'),
        |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS MATERIALIZED (
        | SELECT doc_id, source, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        | FROM d)
        |SELECT doc_id, source, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
        | CAST(cum - n_tokens - ((cum - n_tokens) // 512) * 512 AS BIGINT) AS offset_tokens,
        | n_tokens
        |FROM c""".stripMargin),
    "chunk_windows" -> (TextOps.chunkWindows,
      """WITH d AS MATERIALIZED (
        | SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS BIGINT)
        |   AS n_toks
        | FROM documents)
        |SELECT doc_id,
        | CAST(s // 16 AS BIGINT) AS chunk_idx,
        | CAST(s AS BIGINT) AS start_tok,
        | CAST(LEAST(32, n_toks - s) AS BIGINT) AS chunk_toks
        |FROM (SELECT doc_id, n_toks,
        |      UNNEST(generate_series(0, GREATEST(0, n_toks - 17), 16)) AS s FROM d)""".stripMargin),
    "budget_select" -> (TextOps.budgetSelect, Oracles2.budgetSelect),
    "lm_doc_score" -> (TextOps.lmDocScore, Oracles2.lmDocScore),
    // SpaceSaving sketch is exact below capacity (see scaladoc)
    "heavy_hitters" -> (TextOps.heavyHitters,
      """SELECT token, COUNT(*) AS cnt, CAST(0 AS BIGINT) AS err
        |FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
        |             t -> t <> '')) AS token
        |      FROM documents)
        |GROUP BY token
        |ORDER BY cnt DESC, token ASC
        |LIMIT 25""".stripMargin),
    "freq_spectrum" -> (TextOps.freqSpectrum, Oracles5.freqSpectrum),
    // Count-Min estimates are engine-specific -> certificate gate
    "cm_token_counts" -> (TextOps.cmTokenCounts, Oracles4.cmTokenCounts),
    "stratified_sample" -> (TextOps.stratifiedSample,
      """SELECT source, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank, doc_id, lang, n_chars
        |FROM (SELECT source, doc_id, lang, n_chars,
        |       CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |            AS UBIGINT) AS BIGINT) AS h
        |      FROM documents)
        |WINDOW w AS (PARTITION BY source ORDER BY h ASC, doc_id ASC)
        |QUALIFY ROW_NUMBER() OVER w <= 10""".stripMargin),
    "shuffle_shards" -> (TextOps.shuffleShards, Oracles5.shuffleShards),
    "mix_weights" -> (TextOps.mixWeights, Oracles5.mixWeights),
    "dsir_importance" -> (TextOps.dsirImportance, Oracles5.dsirImportance),
    "compaction_plan" -> (TextOps.compactionPlan, Oracles5.compactionPlan),
    "rp_project" -> (SimilarityOps.rpProject, Oracles5.rpProject),
    "bm25_topk" -> (TextOps.bm25TopK, Oracles5.bm25TopK),
    "table_checksum" -> (RelationalOps.tableChecksum, Oracles5.tableChecksum),
    "winsorized_stats" -> (EventOps.winsorizedStats, Oracles5.winsorizedStats),
    "value_outliers" -> (EventOps.valueOutliers, Oracles5.valueOutliers),
    "langid_confusion" -> (TextOps.langidConfusion, Oracles5.langidConfusion),
    "ngram_diversity" -> (TextOps.ngramDiversity, Oracles5.ngramDiversity),
    "incremental_dedup" -> (DedupOps.incrementalDedup, Oracles5.incrementalDedup),
    "quantile_normalize" -> (EventOps.quantileNormalize, Oracles5.quantileNormalize),
    "interval_coverage" -> (EventOps.intervalCoverage, Oracles5.intervalCoverage),
    "containment_pairs" -> (DedupOps.containmentPairs, Oracles5.containmentPairs),
    "skyline_orders" -> (RelationalOps.skylineOrders, Oracles5.skylineOrders),
    "vocab_overlap" -> (TextOps.vocabOverlap, Oracles5.vocabOverlap),
    "value_trend" -> (EventOps.valueTrend, Oracles5.valueTrend),
    "cusum_changepoint" -> (EventOps.cusumChangepoint, Oracles5.cusumChangepoint),
    "bitmap_overlap" -> (EventOps.bitmapOverlap, Oracles5.bitmapOverlap),
    "rolling_median_7d" -> (EventOps.rollingMedian7d, Oracles5.rollingMedian7d),
    "benford_profile" -> (RelationalOps.benfordProfile, Oracles5.benfordProfile),
    "event_trigrams" -> (EventOps.eventTrigrams, Oracles5.eventTrigrams),
    "daily_autocorr" -> (EventOps.dailyAutocorr, Oracles5.dailyAutocorr),
    "activity_gini" -> (EventOps.activityGini, Oracles5.activityGini),
    "weekday_profile" -> (EventOps.weekdayProfile, Oracles5.weekdayProfile),
    "fano_factor" -> (EventOps.fanoFactor, Oracles5.fanoFactor),
    "char_class_profile" -> (TextOps.charClassProfile, Oracles5.charClassProfile),
    "mad_robust" -> (EventOps.madRobust, Oracles5.madRobust),
    "ks_drift" -> (EventOps.ksDrift, Oracles5.ksDrift),
    "hapax_ratio" -> (TextOps.hapaxRatio, Oracles5.hapaxRatio),
    "rank_agreement" -> (TextOps.rankAgreement, Oracles5.rankAgreement),
    "equidepth_hist" -> (RelationalOps.equidepthHist, Oracles5.equidepthHist),
    "wow_growth" -> (EventOps.wowGrowth, Oracles5.wowGrowth),
    "value_streaks" -> (EventOps.valueStreaks, Oracles5.valueStreaks),
    "first_touch" -> (EventOps.firstTouch, Oracles5.firstTouch),
    "gap_quantiles" -> (EventOps.gapQuantiles, Oracles5.gapQuantiles),
    "clv_deciles" -> (RelationalOps.clvDeciles, Oracles5.clvDeciles),
    "cohort_matrix" -> (EventOps.cohortMatrix, Oracles6.cohortMatrix),
    "rfm_segments" -> (RelationalOps.rfmSegments, Oracles6.rfmSegments),
    "phrase_hits" -> (TextOps.phraseHits, Oracles6.phraseHits),
    "vocab_growth" -> (TextOps.vocabGrowth, Oracles6.vocabGrowth),
    "sorted_neighborhood_pairs" -> (DedupOps.sortedNeighborhood, Oracles6.sortedNeighborhood),
    "ab_test" -> (EventOps.abTest, Oracles6.abTest),
    "cluster_size_hist" -> (GraphOps.clusterSizeHist, Oracles6.clusterSizeHist),
    "dup_by_source" -> (GraphOps.dupBySource, Oracles6.dupBySource),
    "doclen_hist" -> (TextOps.doclenHist, Oracles6.doclenHist),
    "mm_scene_cuts" -> (MultimodalOps.sceneCuts, Oracles6.sceneCuts),
    "hazard_table" -> (RelationalOps.hazardTable, Oracles6.hazardTable),
    "zone_pruning" -> (RelationalOps.zonePruning, Oracles6.zonePruning),
    "theilsen_trend" -> (EventOps.theilsenTrend, Oracles6.theilsenTrend),
    "session_entry_exit" -> (EventOps.sessionEntryExit, Oracles6.sessionEntryExit),
    "lsh_band_sweep" -> (DedupOps.lshBandSweep, Oracles6.lshBandSweep),
    "embedding_qa" -> (SimilarityOps.embeddingQa, Oracles6.embeddingQa),
    "mm_clusters" -> (MultimodalOps.mmClusters, Oracles6.mmClusters),
    "funnel_windowed" -> (EventOps.funnelWindowed, Oracles6.funnelWindowed),
    "seasonal_decompose" -> (EventOps.seasonalDecompose, Oracles6.seasonalDecompose),
    "graph_degree_hist" -> (GraphOps.degreeHist, Oracles6.degreeHist),
    "xcorr_types" -> (EventOps.xcorrTypes, Oracles6.xcorrTypes),
    "minhash_calibration" -> (DedupOps.minhashCalibration, Oracles6.minhashCalibration),
    "keyset_page" -> (RelationalOps.keysetPage, Oracles6.keysetPage),
    "stratified_kfold" -> (TextOps.stratifiedKfold, Oracles6.stratifiedKfold),
    "spike_days" -> (EventOps.spikeDays, Oracles6.spikeDays),
    "cluster_edge_stats" -> (GraphOps.clusterEdgeStats, Oracles6.clusterEdgeStats),
    "max_drawdown" -> (EventOps.maxDrawdown, Oracles6.maxDrawdown),
    "funnel_latency" -> (EventOps.funnelLatency, Oracles6.funnelLatency),
    "consonant_runs" -> (TextOps.consonantRuns, Oracles6.consonantRuns),
    "bounce_rate" -> (EventOps.bounceRate, Oracles6.bounceRate),
    "stickiness" -> (EventOps.stickiness, Oracles6.stickiness),
    "rolling_zscore" -> (EventOps.rollingZscore, Oracles6.rollingZscore),
    "tier_migration" -> (RelationalOps.tierMigration, Oracles6.tierMigration),
    "percolation_sweep" -> (GraphOps.percolationSweep, Oracles6.percolationSweep),
    "return_lift" -> (RelationalOps.returnLift, Oracles5.returnLift),
    "copurchase_lift" -> (RelationalOps.copurchaseLift, Oracles5.copurchaseLift),
    // Dedup suite
    "dedup_exact" -> (DedupOps.exactDedup, Oracles2.dedupExact),
    "minhash_lsh_pairs" -> (DedupOps.minhashLsh, Oracles2.minhashLsh),
    "ngram_jaccard_pairs" -> (DedupOps.ngramJaccard, Oracles2.ngramJaccard),
    "simhash_fingerprint" -> (DedupOps.simhash, Oracles2.simhashFingerprint),
    "simhash_pairs" -> (DedupOps.simhashPairs, Oracles2.simhashPairs),
    "dedup_clusters" -> (GraphOps.dedupClusters, Oracles2.dedupClusters),
    "cluster_keepers" -> (GraphOps.clusterKeepers, Oracles2.clusterKeepers),
    "decontaminate" -> (DedupOps.decontaminate, Oracles2.decontaminate),
    "decontam_ngram_sweep" -> (DedupOps.decontamNgramSweep, Oracles7.decontamNgramSweep),
    "dup_growth_curve" -> (DedupOps.dupGrowthCurve, Oracles7.dupGrowthCurve),
    "lsh_plane_sweep" -> (SimilarityOps.lshPlaneSweep, Oracles7.lshPlaneSweep),
    "dup_source_matrix" -> (DedupOps.dupSourceMatrix, Oracles7.dupSourceMatrix),
    "filter_funnel" -> (TextOps.filterFunnel, Oracles7.filterFunnel),
    "shard_stability" -> (LayoutOps.shardStability, Oracles7.shardStability),
    "candidate_volume" -> (DedupOps.candidateVolume, Oracles7.candidateVolume),
    "bloom_fpp_sweep" -> (DedupOps.bloomFppSweep, Oracles7.bloomFppSweep),
    "salting_plan" -> (EventOps.saltingPlan, Oracles7.saltingPlan),
    "minhash_perm_sweep" -> (DedupOps.minhashPermSweep, Oracles7.minhashPermSweep),
    "lexical_vs_semantic" -> (SimilarityOps.lexicalVsSemantic, Oracles7.lexicalVsSemantic),
    "heaps_law" -> (TextOps.heapsLaw, Oracles7.heapsLaw),
    "zipf_fit" -> (TextOps.zipfFit, Oracles7.zipfFit),
    "pii_profile" -> (TextOps.piiProfile, Oracles7.piiProfile),
    "pii_rewrite" -> (TextOps.piiRewrite, Oracles7.piiRewrite),
    "span_rewrite_anyalign" -> (DedupOps.spanRewriteAnyAlign, Oracles7.spanRewriteAnyAlign),
    "span_family_audit" -> (DedupOps.spanFamilyAudit, Oracles7.spanFamilyAudit),
    "pii_luhn_audit" -> (TextOps.piiLuhnAudit, Oracles7.piiLuhnAudit),
    "boilerplate_profile" -> (TextOps.boilerplateProfile, Oracles7.boilerplateProfile),
    "boilerplate_rewrite" -> (TextOps.boilerplateRewrite, Oracles7.boilerplateRewrite),
    "secret_scan" -> (TextOps.secretScan, Oracles7.secretScan),
    "secret_rewrite" -> (TextOps.secretRewrite, Oracles7.secretRewrite),
    "perceptron_epoch" -> (TextOps.perceptronEpoch, Oracles7.perceptronEpoch),
    "clean_pipeline" -> (TextOps.cleanPipeline, Oracles7.cleanPipeline),
    "boilerplate_df_sweep" -> (TextOps.boilerplateDfSweep, Oracles7.boilerplateDfSweep),
    "redact_dedup_gain" -> (TextOps.redactDedupGain, Oracles7.redactDedupGain),
    "clean_token_budget" -> (TextOps.cleanTokenBudget, Oracles7.cleanTokenBudget),
    "broadcast_threshold_plan" -> (RelationalOps.broadcastThresholdPlan, Oracles7.broadcastThresholdPlan),
    "join_cardinality_census" -> (RelationalOps.joinCardinalityCensus, Oracles7.joinCardinalityCensus),
    "token_waterfill" -> (TextOps.tokenWaterfill, Oracles7.tokenWaterfill),
    "clean_manifest" -> (TextOps.cleanManifest, Oracles11.cleanManifest),
    "clean_typo_rewrite" -> (TextOps.cleanTypoRewrite, Oracles11.cleanTypoRewrite),
    "typo_rewrite_gain" -> (TextOps.typoRewriteGain, Oracles11.typoRewriteGain),
    "ivf_nprobe_sweep" -> (SimilarityOps.ivfNprobeSweep, Oracles7.ivfNprobeSweep),
    "t_closeness" -> (EventOps.tCloseness, Oracles7.tCloseness),
    "hash_collision_audit" -> (TextOps.hashCollisionAudit, Oracles7.hashCollisionAudit),
    "url_profile" -> (TextOps.urlProfile, Oracles7.urlProfile),
    "url_blocklist_audit" -> (TextOps.urlBlocklistAudit, Oracles7.urlBlocklistAudit),
    "hashgram_score" -> (TextOps.hashgramScore, Oracles7.hashgramScore),
    "classifier_auc" -> (TextOps.classifierAuc, Oracles7.classifierAuc),
    "classifier_pr_sweep" -> (TextOps.classifierPrSweep, Oracles7.classifierPrSweep),
    "classifier_kappa" -> (TextOps.classifierKappa, Oracles7.classifierKappa),
    "normalize_dedup_gain" -> (TextOps.normalizeDedupGain, Oracles7.normalizeDedupGain),
    "classifier_calibration" -> (TextOps.classifierCalibration, Oracles7.classifierCalibration),
    "temperature_mix" -> (TextOps.temperatureMix, Oracles7.temperatureMix),
    "fim_split" -> (TextOps.fimSplit, Oracles7.fimSplit),
    "shard_dedup_locality" -> (DedupOps.shardDedupLocality, Oracles7.shardDedupLocality),
    "classifier_yield_sweep" -> (TextOps.classifierYieldSweep, Oracles7.classifierYieldSweep),
    "dup_modularity" -> (DedupOps.dupModularity, Oracles7.dupModularity),
    "span_corruption" -> (TextOps.spanCorruption, Oracles7.spanCorruption),
    "gopher_rules" -> (TextOps.gopherRules, Oracles7.gopherRules),
    "top_ngram_mass" -> (TextOps.topNgramMass, Oracles7.topNgramMass),
    "proto_prune" -> (SimilarityOps.protoPrune, Oracles7.protoPrune),
    "silhouette_sheet" -> (SimilarityOps.silhouetteSheet, Oracles7.silhouetteSheet),
    "cluster_rand_index" -> (SimilarityOps.clusterRandIndex, Oracles7.clusterRandIndex),
    "bpe_vocab_sweep" -> (TextOps.bpeVocabSweep, Oracles7.bpeVocabSweep),
    "ul2_mix" -> (TextOps.ul2Mix, Oracles7.ul2Mix),
    "mm_audio_vad" -> (MultimodalOps.mmAudioVad, Oracles7.mmAudioVad),
    "epoch_shuffle_audit" -> (LayoutOps.epochShuffleAudit, Oracles7.epochShuffleAudit),
    "detector_bakeoff" -> (TextOps.detectorBakeoff, Oracles7.detectorBakeoff),
    "crawl_revisit_audit" -> (TextOps.crawlRevisitAudit, Oracles7.crawlRevisitAudit),
    "sft_render_mask" -> (TextOps.sftRenderMask, Oracles7.sftRenderMask),
    // round 8
    "hybrid_rrf_topk" -> (SimilarityOps.hybridRrfTopK, Oracles8.hybridRrfTopK),
    "hybrid_recall" -> (SimilarityOps.hybridRecall, Oracles8.hybridRecall),
    "unigram_fit" -> (TextOps.unigramFitTable, Oracles8.unigramFit),
    "unigram_encode" -> (TextOps.unigramEncode, Oracles8.unigramEncode),
    "unigram_vs_bpe" -> (TextOps.unigramVsBpe, Oracles8.unigramVsBpe),
    "dpo_pairs" -> (TextOps.dpoPairs, Oracles8.dpoPairs),
    "dpo_leakage" -> (TextOps.dpoLeakage, Oracles8.dpoLeakage),
    "mm_phash_pairs" -> (MultimodalOps.phashPairs, Oracles8.mmPhashPairs),
    "mm_phash_vs_ahash" -> (MultimodalOps.phashVsAhash, Oracles8.mmPhashVsAhash),
    "retrieval_mrr" -> (SimilarityOps.retrievalMrr, Oracles8.retrievalMrr),
    "kn_bigram_fit" -> (TextOps.knBigramFit, Oracles8.knBigramFit),
    "kn_doc_ppl" -> (TextOps.knDocPpl, Oracles8.knDocPpl),
    "kn3_trigram_fit" -> (TextOps.kn3TrigramFit, Oracles9.kn3TrigramFit),
    "kn3_doc_ppl" -> (TextOps.kn3DocPpl, Oracles9.kn3DocPpl),
    "ppl_bucket_split" -> (TextOps.pplBucketSplit, Oracles10.pplBucketSplit),
    "dsir_bucket_model" -> (TextOps.dsirBucketModel, Oracles9.dsirBucketModel),
    "dsir_doc_scores" -> (TextOps.dsirDocScores, Oracles9.dsirDocScores),
    "dsir_select" -> (TextOps.dsirSelect, Oracles9.dsirSelect),
    "dsir_select_global" -> (TextOps.dsirSelectGlobal, Oracles10.dsirSelectGlobal),
    "dsir_select_agreement" -> (TextOps.dsirSelectAgreement, Oracles10.dsirSelectAgreement),
    "token_entropy_gate" -> (TextOps.tokenEntropyGate, Oracles9.tokenEntropyGate),
    "selector_agreement" -> (TextOps.selectorAgreement, Oracles9.selectorAgreement),
    "kn_order_gain" -> (TextOps.knOrderGain, Oracles9.knOrderGain),
    "kn5_fit" -> (TextOps.kn5Fit, Oracles10.kn5Fit),
    "kn4_doc_ppl" -> (TextOps.kn4DocPpl, Oracles10.kn4DocPpl),
    "kn5_doc_ppl" -> (TextOps.kn5DocPpl, Oracles10.kn5DocPpl),
    "kn_order_curve" -> (TextOps.knOrderCurve, Oracles10.knOrderCurve),
    "kn5_pruned_fit" -> (TextOps.kn5PrunedFit, Oracles11.kn5PrunedFit),
    "kn5_pruned_stats" -> (TextOps.kn5PrunedStats, Oracles11.kn5PrunedStats),
    "kn5_pruned_doc_ppl" -> (TextOps.kn5PrunedDocPpl, Oracles11.kn5PrunedDocPpl),
    "wordpiece_fit" -> (TextOps.wordpieceFitTable, Oracles8.wordpieceFit),
    "wordpiece_encode" -> (TextOps.wordpieceEncode, Oracles8.wordpieceEncode),
    "tokenizer_bakeoff" -> (TextOps.tokenizerBakeoff, Oracles8.tokenizerBakeoff),
    "retrieval_ndcg" -> (SimilarityOps.retrievalNdcg, Oracles8.retrievalNdcg),
    "bt_source_ratings" -> (TextOps.btSourceRatings, Oracles8.btSourceRatings),
    "wordpiece_greedy" -> (TextOps.wordpieceGreedy, Oracles8.wordpieceGreedy),
    "doremi_weights" -> (TextOps.doremiWeights, Oracles8.doremiWeights),
    // bloom semi-join reduction: the prefilter is lossless (the exact
    // join removes false positives) -> same oracle as the unfiltered form
    "decontaminate_bloom" -> (DedupOps.decontaminateBloom, Oracles2.decontaminate),
    "minhash_sources" -> (DedupOps.minhashSources, Oracles5.minhashSources),
    "span_dedup" -> (DedupOps.spanDedup, Oracles4.spanDedup),
    "winnowing_fingerprints" -> (DedupOps.winnowingFingerprints, Oracles6.winnowingFingerprints),
    "winnowing_pairs" -> (DedupOps.winnowingPairs, Oracles6.winnowingPairs),
    "token_burstiness" -> (TextOps.tokenBurstiness, Oracles6.tokenBurstiness),
    "ngram_dup_rate" -> (DedupOps.ngramDupRate, Oracles6.ngramDupRate),
    "cdc_chunks" -> (DedupOps.cdcChunks, Oracles6.cdcChunks),
    "span_rewrite" -> (DedupOps.spanRewrite, Oracles6.spanRewrite),
    "referral_depth" -> (GraphOps.referralDepth, Oracles6.referralDepth),
    "padding_waste" -> (TextOps.paddingWaste, Oracles6.paddingWaste),
    "weighted_sample" -> (TextOps.weightedSample, Oracles6.weightedSample),
    "k_anonymity" -> (EventOps.kAnonymity, Oracles6.kAnonymity),
    "l_diversity" -> (EventOps.lDiversity, Oracles6.lDiversity),
    "mannwhitney_drift" -> (EventOps.mannWhitneyDrift, Oracles6.mannWhitneyDrift),
    "cramers_v" -> (EventOps.cramersV, Oracles6.cramersV),
    "mann_kendall_trend" -> (EventOps.mannKendallTrend, Oracles6.mannKendallTrend),
    "bootstrap_means" -> (EventOps.bootstrapMeans, Oracles6.bootstrapMeans),
    "keyness_terms" -> (TextOps.keynessTerms, Oracles6.keynessTerms),
    // Similarity search
    "ann_topk_bruteforce" -> (SimilarityOps.bruteForceTopK, Oracles2.annTopkBruteforce),
    "matryoshka_recall" -> (SimilarityOps.matryoshkaRecall, Oracles6.matryoshkaRecall),
    "tvd_drift" -> (EventOps.tvdDrift, Oracles6.tvdDrift),
    "bpe_train" -> (TextOps.bpeTrain, Oracles6.bpeTrain),
    "bpe_encode" -> (TextOps.bpeEncode, Oracles6.bpeEncode),
    "tokenizer_fertility" -> (TextOps.tokenizerFertility, Oracles7.tokenizerFertility),
    "sql_interface" -> (RelationalOps.sqlInterface, RelationalOps.SqlInterfaceText),
    "kcore_peel" -> (GraphOps.kcorePeel, Oracles6.kcorePeel),
    "linear_attribution" -> (EventOps.linearAttribution, Oracles6.linearAttribution),
    "quality_gate" -> (TextOps.qualityGate, Oracles6.qualityGate),
    "gram_matrix" -> (SimilarityOps.gramMatrix, Oracles6.gramMatrix),
    "pca_power" -> (SimilarityOps.pcaPower, Oracles6.pcaPower),
    "pca_scores" -> (SimilarityOps.pcaScores, Oracles6.pcaScores),
    "ann_topk_ivf" -> (SimilarityOps.ivfLabelTopK, Oracles2.annTopkIvf),
    "ann_topk_lsh" -> (SimilarityOps.lshTopK, Oracles2.annTopkLsh),
    "ann_near_dup" -> (SimilarityOps.embeddingNearDup, Oracles2.annNearDup),
    "knn_join" -> (SimilarityOps.knnJoin, Oracles2.knnJoin),
    "hard_negatives" -> (SimilarityOps.hardNegatives, Oracles7.hardNegatives),
    "hubness_skew" -> (SimilarityOps.hubnessSkew, Oracles7.hubnessSkew),
    "semantic_leakage" -> (SimilarityOps.semanticLeakage, Oracles7.semanticLeakage),
    // quantized-exact centroids: parallel UNNESTs zip positionally in
    // DuckDB; integer sums make the distributed mean order-independent
    // (mirrors SimilarityOps.labelCentroids)
    "label_centroids" -> (SimilarityOps.labelCentroids,
      """WITH flat AS (
        | SELECT label,
        |  CAST(UNNEST(generate_series(0, 63)) AS BIGINT) AS pos,
        |  CAST(round(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        | FROM embeddings),
        |dims AS MATERIALIZED (
        | SELECT label, pos, CAST(SUM(q) AS BIGINT) AS sum_q, COUNT(*) AS n
        | FROM flat GROUP BY label, pos),
        |norms AS (
        | SELECT label, MAX(n) AS n_vecs,
        |  sqrt(list_reduce(
        |    list_prepend(0.0, list(CAST(sum_q AS DOUBLE)/1000000.0/n ORDER BY pos)),
        |    (a, x) -> a + x*x)) AS centroid_norm
        | FROM dims GROUP BY label),
        |top AS MATERIALIZED (
        | SELECT label, pos AS top_dim, CAST(sum_q AS DOUBLE)/1000000.0/n AS top_dim_mean FROM (
        |  SELECT label, pos, sum_q, n,
        |   ROW_NUMBER() OVER (PARTITION BY label ORDER BY abs(sum_q) DESC, pos ASC) AS rnk
        |  FROM dims) WHERE rnk = 1)
        |SELECT CAST(label AS BIGINT) AS label, n_vecs, centroid_norm, top_dim, top_dim_mean
        |FROM norms JOIN top USING (label)""".stripMargin),
    "kmeans_assign" -> (SimilarityOps.kmeansAssign, Oracles3.kmeansAssign),
    "kmeans_step" -> (SimilarityOps.kmeansStep, Oracles3.kmeansStep),
    "kmeans_round2" -> (SimilarityOps.kmeansRound2, Oracles4.kmeansRound2),
    "semantic_dedup" -> (SimilarityOps.semanticDedup, Oracles3.semanticDedup),
    // per-row arithmetic only: max/round/abs + a sequential index-order
    // fold, bit-exact across engines (no decimal mediation needed)
    "vec_quantize" -> (SimilarityOps.vecQuantize,
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims, max_abs,
        | CASE WHEN max_abs > 0.0 THEN 127.0 / max_abs ELSE 1.0 END AS scale,
        | list_reduce(
        |  list_prepend(0.0, list_transform(embedding, v ->
        |    abs(CAST(v AS DOUBLE) -
        |        round(CAST(v AS DOUBLE) *
        |              (CASE WHEN max_abs > 0.0 THEN 127.0 / max_abs ELSE 1.0 END)) /
        |        (CASE WHEN max_abs > 0.0 THEN 127.0 / max_abs ELSE 1.0 END)))),
        |  (a, x) -> a + x) AS sum_abs_err
        |FROM (SELECT vec_id, embedding,
        |       list_reduce(list_prepend(0.0, list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
        |                   (a, x) -> CASE WHEN x > a THEN x ELSE a END) AS max_abs
        |      FROM embeddings)""".stripMargin),
    "pq_adc_topk" -> (SimilarityOps.pqAdcTopK, Oracles4.pqAdcTopK),
    "centroid_outliers" -> (SimilarityOps.centroidOutliers, Oracles4.centroidOutliers),
    // Event analytics
    "events_hourly" -> (EventOps.hourlyRollup, Oracles2.eventsHourly),
    "hourly_spine_filled" -> (EventOps.hourlySpineFilled, Oracles4.hourlySpineFilled),
    "sessions" -> (EventOps.sessionize, Oracles2.sessions),
    "session_window_agg" -> (EventOps.sessionWindowAgg, Oracles4.sessionWindowAgg),
    "concurrent_sessions" -> (EventOps.concurrentSessions, Oracles4.concurrentSessions),
    "rolling_7d_users" -> (EventOps.rollingUsers7d, Oracles4.rollingUsers7d),
    "purchase_attribution" -> (EventOps.purchaseAttribution, Oracles2.purchaseAttribution),
    // the same as-of semantics on the custom Catalyst operator
    "asof_join_native" -> (EventOps.purchaseAttributionAsOf, Oracles4.asofJoinNative),
    "user_activity" -> (EventOps.userActivity, Oracles2.userActivity),
    "value_quantiles" -> (EventOps.valueQuantiles, Oracles2.valueQuantiles),
    // KLL estimates are merge-order-specific -> certificate gate
    "kll_value_quantiles" -> (EventOps.kllValueQuantiles, Oracles5.kllValueQuantiles),
    "kll_sources" -> (EventOps.kllSources, Oracles6.kllSources),
    "cube_daily" -> (EventOps.cubeDaily, Oracles2.cubeDaily),
    "weekly_retention" -> (EventOps.weeklyRetention, Oracles2.weeklyRetention),
    "pivot_daily" -> (EventOps.pivotDaily,
      """SELECT epoch_ns(ts) // 86400000000000 AS epoch_day,
        | COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        | COUNT(*) FILTER (WHERE event_type = 'view') AS view,
        | COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        | COUNT(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY epoch_day""".stripMargin),
    "unpivot_daily" -> (EventOps.unpivotDaily,
      """UNPIVOT (
        | SELECT epoch_ns(ts) // 86400000000000 AS epoch_day,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
        | FROM events GROUP BY epoch_day)
        |ON click, view, purchase, signup, error
        |INTO NAME event_type VALUE n""".stripMargin),
    // the oracle states the range join directly; the Spark side's
    // bin+equi-join+residual-predicate plan must agree exactly
    "range_join_clicks" -> (EventOps.clicksBeforePurchase,
      """WITH p AS MATERIALIZED (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS c_us
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, purchase_id, p_us, COUNT(c.c_us) AS n_clicks_1h
        |FROM p LEFT JOIN c
        | ON p.user_id = c.user_id
        | AND c.c_us <= p.p_us AND c.c_us > p.p_us - 3600000000
        |GROUP BY p.user_id, purchase_id, p_us""".stripMargin),
    "json_props_stats" -> (EventOps.jsonPropsStats, Oracles2.jsonPropsStats),
    "latest_snapshot" -> (EventOps.latestSnapshot, Oracles2.latestSnapshot),
    "funnel_stages" -> (EventOps.funnelStages, Oracles2.funnelStages),
    "scd2_history" -> (EventOps.scd2History, Oracles2.scd2History),
    // HLL estimates are engine-specific -> certificate gate like approx_stats
    "hll_user_reach" -> (EventOps.hllUserReach,
      """SELECT event_type,
        | COUNT(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days,
        | COUNT(DISTINCT user_id) AS exact_users,
        | TRUE AS hll_ok
        |FROM events
        |GROUP BY event_type""".stripMargin),
    "ewma_user_value" -> (EventOps.ewmaUserValue, Oracles4.ewmaUserValue),
    "pagerank_referral" -> (GraphOps.pagerankReferral, Oracles4.pagerankReferral),
    "graph_triangles" -> (GraphOps.triangleStats, Oracles5.triangleStats),
    // Multimodal plumbing (deterministic decode stub — see MultimodalOps)
    "mm_decode_meta" -> (MultimodalOps.decodeMeta, Oracles2.mmDecodeMeta),
    "mm_frame_sample" -> (((s, d) => MultimodalOps.frameSample(s, d)), Oracles2.mmFrameSample),
    "mm_audio_energy" -> (MultimodalOps.audioEnergy, Oracles4.audioEnergy),
    "mm_ahash_pairs" -> (MultimodalOps.aHashPairs, Oracles5.aHashPairs),
    "mm_image_pixels" -> (MultimodalOps.imagePixelStats, Oracles6.imagePixelStats),
    "mm_wav_stats" -> (MultimodalOps.wavStats, Oracles6.wavStats),
    "gini_inequality" -> (RelationalOps.giniInequality, Oracles6.giniInequality),
    "column_profile" -> (EventOps.columnProfile, Oracles6.columnProfile),
    "mass_shards" -> (TextOps.massShards, Oracles6.massShards),
    "ensemble_pairs" -> (DedupOps.ensemblePairs, Oracles6.ensemblePairs),
    "content_split" -> (TextOps.contentSplit, Oracles6.contentSplit),
    "hilbert_layout" -> (LayoutOps.hilbertLayout, Oracles6.hilbertLayout),
    "dedup_savings" -> (DedupOps.dedupSavings, Oracles6.dedupSavings),
    "ann_recall" -> (SimilarityOps.annRecall, Oracles6.annRecall),
    "simhash_calibration" -> (DedupOps.simhashCalibration, Oracles6.simhashCalibration),
    // Layout: Z-order clustering report
    "zorder_layout" -> (LayoutOps.zorderLayout, Oracles5.zorderLayout)
  )

  /** The registry's query functions by name. */
  lazy val queries: Map[String, Query] =
    registry.map { case (name, (query, _)) => name -> query }.toMap

  /** The board in name order, cut to the comma-separated names in
    * `SPARK_GRAFT_ONLY` when that is set. The filter is dev-only:
    * tools/check.py forwards it, and no gate run sets it.
    */
  def board: Seq[(String, Query)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** The registry's oracle SQL by name.
    *
    * Every CTE referenced >= 2x downstream carries `AS MATERIALIZED`
    * (the round-9 exponential-inlining lesson, board-wide in round 10;
    * OracleLintSpec enforces it) — EXCEPT names defined more than once
    * in one statement: composed chains deliberately shadow short names
    * (`toks`, `q`, ...) across sub-chains, and DuckDB's binder rejects
    * duplicate MATERIALIZED aliases, so [[demoteShadowedMaterialized]]
    * strips the keyword from exactly those definitions at registration.
    */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (name, (_, sql)) => name -> demoteShadowedMaterialized(sql) }.toMap

  private val CteDefRe =
    """\b([A-Za-z_][A-Za-z0-9_$]*) AS (?:MATERIALIZED )?\(""".r

  private[graft] def demoteShadowedMaterialized(sql: String): String = {
    // Same window-definition exclusion as OracleLintSpec: `WINDOW w AS
    // (PARTITION BY ...)` clauses match CteDefRe's shape but are not
    // CTE definitions — counting them would silently demote a real
    // materialized CTE that shares a window's name.
    val defCounts = CteDefRe
      .findAllMatchIn(sql)
      .filterNot(m =>
        sql.substring(m.end).matches("(?is)\\s*(PARTITION BY|ORDER BY).*"))
      .map(_.group(1))
      .toSeq
      .groupBy(identity)
      .view
      .mapValues(_.size)
    val shadowed = defCounts.filter(_._2 > 1).keys.toSet
    if (shadowed.isEmpty) sql
    else
      shadowed.foldLeft(sql) { (s, name) =>
        // left word boundary matters: plain replace of "n AS ..." would
        // also strip "qn AS ..." (substring), demoting innocent CTEs
        s.replaceAll(
          """(?<![A-Za-z0-9_$])""" + java.util.regex.Pattern.quote(name) +
            """ AS MATERIALIZED \(""",
          java.util.regex.Matcher.quoteReplacement(s"$name AS (")
        )
      }
  }

}
