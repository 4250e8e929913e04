package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.Lineage.TruncateOps
import graft.QuerySpec.{Q, RowsOnly}
import graft.SparkEntry._
import graft.queries.Twins._

/** Relational breadth: TPC-H-style joins and aggregates, set operations,
  * grouping sets, pivots, sketches and file-format round trips
  * (SURVEY.md §2 [ABSENT]/[NS] rows). */
object RelationalQueries {
  val specs: Seq[QuerySpec] = Seq(
    Q("q1_pricing_summary", (s, d) => Relational.pricingSummary(t(s, d).lineitem))(
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        | CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Q("q3_top_orders", (s, d) => Relational.topUnshippedOrders(t(s, d)))(
      """SELECT o_orderkey, o_orderdate,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
    Q("q5_nation_revenue", (s, d) => Relational.nationRevenue(t(s, d), "ASIA"))(
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    Q("semi_join", (s, d) => Relational.customersWithOpenOrders(t(s, d)))(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin),
    Q("anti_join", (s, d) => Relational.customersWithoutOrders(t(s, d)))(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Q("left_join_agg", (s, d) => Relational.ordersPerCustomer(t(s, d)))(
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spend
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    Q("rollup_agg", (s, d) => Relational.rollupAgg(t(s, d).lineitem))(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag, coalesce(l_linestatus, 'ALL') AS linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),
    Q("cube_agg", (s, d) => Relational.cubeAgg(t(s, d).orders))(
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus, coalesce(o_orderpriority, 'ALL') AS orderpriority,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY orderstatus, orderpriority""".stripMargin),
    Q("scalar_funcs", (s, d) => Relational.partTransforms(t(s, d).part))(
      """SELECT p_partkey, upper(p_name) AS name_upper, CAST(length(p_name) AS INTEGER) AS name_len,
        | substring(p_type, 1, 6) AS type_prefix, string_split(p_type, ' ')[1] AS type_head,
        | p_retailprice * 1.1 AS marked_up,
        | CASE WHEN p_size > 25 THEN 'large' WHEN p_size > 10 THEN 'medium' ELSE 'small' END AS size_class
        |FROM part ORDER BY p_partkey""".stripMargin),
    Q("date_funcs", (s, d) => Relational.orderDates(t(s, d).orders))(
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
        | CAST(month(o_orderdate) AS INTEGER) AS o_month,
        | CAST(day(o_orderdate) AS INTEGER) AS o_day,
        | date_trunc('month', o_orderdate) AS month_start,
        | CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Q("agg_stats", (s, d) => Relational.customerStats(t(s, d).customer))(
      """SELECT c_mktsegment, count(*) AS n_customers, count(DISTINCT c_nationkey) AS n_nations,
        | min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal,
        | (CAST(sum(CAST(c_acctbal*c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |   - CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |     * CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)) / count(*) AS var_pop_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Q("set_ops", (s, d) => Relational.nationSetOps(t(s, d)))(
      """WITH cu AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        | su AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS op FROM (SELECT nationkey FROM cu INTERSECT SELECT nationkey FROM su)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS op FROM (SELECT nationkey FROM cu EXCEPT SELECT nationkey FROM su)
        |UNION ALL
        |SELECT nationkey, 'supplier_only' AS op FROM (SELECT nationkey FROM su EXCEPT SELECT nationkey FROM cu)
        |ORDER BY op, nationkey""".stripMargin),
    Q("topk_orders", (s, d) => Relational.topOrdersByPrice(t(s, d).orders))(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),
    // custom whole-operator path: GroupedTopKNode -> strategy ->
    // two-phase heap exec (see graft.plans.GroupedTopK); same result
    // as the row_number window the oracle uses
    Q("grouped_topk", (s, d) => {
      graft.plans.GroupedTopK.topKPerKey(
          t(s, d).orders.select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice")),
          Seq("o_orderstatus"), Seq(("o_totalprice", true), ("o_orderkey", false)), k = 3)
        .orderBy(col("o_orderstatus"), desc("o_totalprice"), asc("o_orderkey"))
    })(
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
        | SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey""".stripMargin),
    Q("full_outer_join", (s, d) => Relational.nationPresence(t(s, d)))(
      """WITH cu AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
        | su AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
        |SELECT CAST(coalesce(cu.k, su.k) AS INTEGER) AS nationkey,
        | coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM cu FULL JOIN su ON cu.k = su.k ORDER BY nationkey""".stripMargin),
    Q("theta_join", (s, d) => Relational.lateShipments(t(s, d)))(
      """SELECT o_orderstatus, count(*) AS n_late FROM lineitem JOIN orders
        | ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL '30 days'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Q("range_join", (s, d) => Relational.priceBandCounts(t(s, d)))(
      """WITH bands AS (SELECT x AS band, x * 50000.0 AS lo, (x + 1) * 50000.0 AS hi FROM range(12) t(x))
        |SELECT band, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin),
    // large × large inequality join via bin-quantized equi-join — the
    // scale path for |a−b|<=δ predicates (RangeJoins.absDeltaJoin);
    // the broadcast-band variant above stays for small dim sides
    Q("binned_range_join", (s, d) => {
      val e = t(s, d).events
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("value").as("p_val"))
      val c = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("value").as("c_val"))
      RangeJoins.absDeltaJoin(p, c, "p_val", "c_val", delta = 0.25)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_close"),
          min(col("c_val")).as("min_cv"), max(col("c_val")).as("max_cv"))
        .orderBy(col("purchase_id"))
    })(
      // the oracle states the predicate directly (DuckDB handles the
      // quadratic form fine at sf0.01); the engine side must produce the
      // identical pair set through the bin rewrite
      """SELECT p.event_id AS purchase_id, count(*) AS n_close,
        | min(c.value) AS min_cv, max(c.value) AS max_cv
        |FROM events p JOIN events c
        | ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND abs(p.value - c.value) <= 0.25
        |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin),
    RowsOnly("approx_distinct", "HyperLogLog estimates are engine-specific")((s, d) =>
      Relational.approxDistincts(t(s, d).lineitem)),
    // Bloom-filter pre-shuffle semi-join reduction (rows-only: sketch
    // membership has no DuckDB twin; no-false-negative + FPR bounds are
    // property-checked in SketchesSpec)
    RowsOnly("bloom_filter_probe", "Bloom false positives depend on the engine's hash")((s, d) => {
      val tt = t(s, d)
      Sketches.bloomSemiFilter(
          tt.orders.where(col("o_orderpriority") === "1-URGENT"), "o_orderkey",
          tt.lineitem, "l_orderkey", expectedItems = 100000, numBits = 1000000)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_candidates"))
        .orderBy(col("l_returnflag"))
    }),
    // privacy-release audit: k-anonymity (every quasi-identifier
    // group ≥ k rows) and l-diversity (≥ l distinct sensitive values
    // per group) over the order log — quasi-id (status, priority,
    // order year), sensitive = customer key; k/l sized to SPLIT the
    // fixture groups so both verdict branches are exercised. The
    // relation is
    // quasi-id-cardinality-sized (a broadcastable rollup at any row
    // scale); the flags are the go/no-go a data release reads
    Q("k_anonymity_audit", (s, d) =>
      t(s, d).orders
        .groupBy(col("o_orderstatus"), col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_distinct_sensitive"))
        .withColumn("k_anonymous", col("n_rows") >= 150)
        .withColumn("l_diverse", col("n_distinct_sensitive") >= 143)
        .orderBy("o_orderstatus", "o_orderpriority", "order_year"))(
      // straight rollup + integer thresholds; year() is BIGINT in
      // DuckDB, the Spark side casts to match
      """SELECT o_orderstatus, o_orderpriority, year(o_orderdate) AS order_year,
        | count(*) AS n_rows, count(DISTINCT o_custkey) AS n_distinct_sensitive,
        | count(*) >= 150 AS k_anonymous,
        | count(DISTINCT o_custkey) >= 143 AS l_diverse
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // the Bloom filter's ONE exact guarantee, hash-checked: no false
    // negatives — every probe row whose key IS in the build set must
    // survive the filter, so the true members that pass equal the
    // true members outright (false POSITIVES stay rows-only in
    // bloom_filter_probe; they're the approximate part). A broken
    // hash/bit path loses a member and the count unhashes
    Q("bloom_no_false_negatives", (s, d) => {
      val tt = t(s, d)
      val urgent = tt.orders.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")).truncateLineage // build + 2 semi probes
      val cand = Sketches.bloomSemiFilter(urgent, "o_orderkey",
        tt.lineitem, "l_orderkey", expectedItems = 100000, numBits = 1000000)
      val nTrue = tt.lineitem
        .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_true_members"))
      val nPassed = cand
        .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_true_passed"))
      nTrue.crossJoin(broadcast(nPassed))
    })(
      // no-false-negatives is EXACT: true members that pass the filter
      // == true members, both counts one relational semi-join
      """WITH u AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        | c AS (SELECT count(*) AS n FROM lineitem l
        |        WHERE EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = l.l_orderkey))
        |SELECT n AS n_true_members, n AS n_true_passed FROM c""".stripMargin),
    // sketch-based percentiles (rows-only by design, like approx_distinct:
    // the sketch is engine-specific; the exact twin is `percentiles`)
    RowsOnly("approx_percentiles",
        "percentile sketches are engine-specific; percentiles is the exact twin")((s, d) =>
      t(s, d).orders
        .groupBy(col("o_orderstatus"))
        .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50_approx"),
          percentile_approx(col("o_totalprice"), lit(0.99), lit(1000)).as("p99_approx"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))),
    Q("pivot_agg", (s, d) => Relational.pivotReturnFlagQty(t(s, d).lineitem))(
      """SELECT l_linestatus,
        | CAST(sum(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS A,
        | CAST(sum(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS N,
        | CAST(sum(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    // ordered string aggregation (listagg): deterministic via sort_array
    Q("string_agg", (s, d) => t(s, d).nation
      .groupBy(col("n_regionkey").cast("int").as("regionkey"))
      .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"),
        count(lit(1)).as("n"))
      .orderBy(col("regionkey")))(
      """SELECT CAST(n_regionkey AS INTEGER) AS regionkey,
        | string_agg(n_name, ',' ORDER BY n_name) AS names, count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY regionkey""".stripMargin),
    // array-function breadth over tokenized documents: distinct, sort,
    // slice, join — all codegen'd builtins
    Q("array_funcs", (s, d) => t(s, d).documents
      .select(col("doc_id"),
        array_sort(array_distinct(TextOps.rawTokens(col("text")))).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_distinct"),
        concat_ws("|", slice(col("toks"), 1, 3)).as("first3"))
      .orderBy(col("doc_id")))(
      """WITH tk AS (SELECT doc_id,
        |  list_sort(list_distinct(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0))) AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_distinct,
        | array_to_string(toks[1:3], '|') AS first3
        |FROM tk ORDER BY doc_id""".stripMargin),
    Q("unpivot_long", (s, d) => Relational.unpivotLineitemMeasures(t(s, d).lineitem))(
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),
    // correlated scalar subquery through the SQL surface: orders priced
    // 1.5x above their customer's average (exact decimal avg on both
    // sides so the filter boundary is deterministic)
    Q("scalar_subquery", (s, d) => {
      t(s, d).orders.createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v o
              |WHERE o_totalprice > 1.5 * (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
              |                            FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
              |ORDER BY o_orderkey""".stripMargin)
    })(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                            FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),
    Q("percentiles", (s, d) => Relational.pricePercentiles(t(s, d).orders))(
      """SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        | round(quantile_cont(o_totalprice, 0.99), 4) AS p99, count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // skew-safe salted join: same result as the plain join, verified
    // against the plain-join oracle
    Q("salted_join", (s, d) => {
      val tt = t(s, d)
      Relational.saltedJoin(
          tt.lineitem.withColumnRenamed("l_suppkey", "suppkey"),
          tt.supplier.withColumnRenamed("s_suppkey", "suppkey"), "suppkey", factor = 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"), graft.functions.dsum2(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_name"))
    })(
      """SELECT s_name, count(*) AS n_items,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin),
    Q("corr_stats", (s, d) => Relational.quantityPriceCorr(t(s, d).lineitem))(
      """SELECT l_returnflag, count(*) AS n,
        | (count(*) * CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |   - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))
        | / (sqrt(count(*) * CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |      - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE))
        |    * sqrt(count(*) * CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |      - CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)))
        |  AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Q("regression_agg", (s, d) => Relational.regressionByFlag(t(s, d).lineitem))(
      // identical moment formulas and parenthesization as the Spark side
      // (closed-form OLS from exact decimal sums — see regressionByFlag)
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n AS n_rows,
        |  (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        |  (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept,
        |  ((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin),
    // native Generator (UDTF) through the SQL surface: word trigrams of
    // every document in one sliding pass, no intermediate token arrays
    Q("ngram_udtf", (s, d) => {
      t(s, d).documents.createOrReplaceTempView("docs_ng")
      s.sql("""SELECT ngram, count(*) AS n
              |FROM docs_ng LATERAL VIEW word_ngrams(text, 3) g AS ngram
              |GROUP BY ngram HAVING count(*) >= 3
              |ORDER BY ngram""".stripMargin)
    })(
      // trigram grid via generate_series — same tokenization (\s+ split,
      // drop empties) as the WordNGrams generator
      // explicit whitespace class: Java \s includes \x0B, RE2 \s does not
      """WITH toks AS (SELECT list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS l
        |              FROM documents),
        | tg AS (SELECT l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS ngram
        |        FROM (SELECT l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks WHERE len(l) >= 3))
        |SELECT ngram, count(*) AS n FROM tg GROUP BY ngram HAVING count(*) >= 3
        |ORDER BY ngram""".stripMargin),
    // co-located join over pre-bucketed tables: zero shuffle Exchange
    // in the join+agg plan (BucketingSpec asserts it); result matches
    // the plain-join oracle
    Q("bucketed_join", (s, d) => {
      val tt = t(s, d)
      graft.plans.Bucketing.colocatedSpendPerCustomer(s, tt.customer, tt.orders)
        .orderBy("c_custkey")
    })(
      """SELECT c_custkey, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    // cost-based optimization: ANALYZE'd catalog tables + CBO join
    // reorder — the query is WRITTEN fact-first, the optimizer joins
    // the filtered dim first (CboSpec asserts the reorder happens)
    Q("cbo_star_join", (s, d) =>
      graft.plans.Cbo.segmentRevenue(s, d).orderBy("c_mktsegment"))(
      """SELECT c_mktsegment, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // JSON source/sink round trip: parquet -> json -> json scan -> agg
    Q("json_roundtrip", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-json").toString
      t(s, d).orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").json(tmp)
      s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .json(tmp)
        .groupBy(col("o_orderstatus"))
        .agg(graft.functions.dsum2(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    })(
      """SELECT o_orderstatus,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // the C4/OSCAR corpus container: gzip-framed JSON lines. Write the
    // corpus as .jsonl.gz (require() proves the codec engaged, not a
    // silent plain-text fallback), read it back with an explicit
    // schema, and account per language — docs, chars, DISTINCT texts —
    // so a decompression bug that drops or mangles lines unhashes
    Q("jsonl_gz_roundtrip", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonlgz").toString
      t(s, d).documents.select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite").option("compression", "gzip").json(tmp)
      val gz = Option(new java.io.File(tmp).listFiles())
        .map(_.count(_.getName.endsWith(".gz"))).getOrElse(0)
      require(gz > 0, s"gzip json write produced no .gz files in $tmp")
      s.read.schema("doc_id BIGINT, lang STRING, text STRING").json(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          countDistinct(col("text")).as("n_texts"))
        .orderBy("lang")
    })(
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | count(DISTINCT text) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // corrupt-record ACCOUNTING on a JSONL ingest: every 13th line
    // truncated mid-string (deterministic damage), PERMISSIVE parse
    // preserves it in _corrupt, the audit counts the loss and
    // checksums the survivors — neither FAILFAST's dead job nor
    // DROPMALFORMED's silent shrink
    Q("json_bad_records", (s, d) => {
      val stage = java.nio.file.Files.createTempDirectory("graft-badjson").toString
      t(s, d).documents
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("lang"), col("text"))).as("line"))
        .select(when(col("doc_id") % 13 === 0,
            substring(col("line"), 1, 20)).otherwise(col("line")).as("value"))
        .coalesce(1).write.mode("overwrite").text(stage)
      graft.sources.Jsonl.audit(
        graft.sources.Jsonl.readAudited(s, stage, "doc_id LONG, lang STRING, text STRING"))
    })(
      // the damage is doc_id arithmetic, so the audit is closed-form
      """SELECT count(*) AS n_rows,
        | CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
        | CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        | CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE doc_id END) AS BIGINT) AS good_id_sum
        |FROM documents""".stripMargin),
    Q("ref_bin_histogram", (s, d) => TextOps.refBinHistogram(t(s, d).documents).orderBy("bin"))(
      // the reference's affine char-sum hash (map_reduce.cpp:214-217) is
      // SQL-expressible — ASCII corpus, so ascii(c) == the byte the C
      // code sums
      s"""$W, dw AS (SELECT DISTINCT word FROM w WHERE length(word) > 0)
         |SELECT CAST((coalesce(list_sum(list_transform(string_split(word, ''), c -> 22 + 23 * (ascii(c) - 14))), 0) % 1024 + 1024) % 1024 AS BIGINT) AS bin,
         | count(*) AS n_words
         |FROM dw GROUP BY bin ORDER BY bin""".stripMargin),
    // typed Aggregator UDAF (SURVEY.md §2.10): exact top-k by count
    Q("topk_udaf", (s, d) => {
      val topk = udaf(new graft.functions.TopKByCount(100),
        org.apache.spark.sql.Encoders.STRING)
      TextOps.words(t(s, d).documents)
        .agg(topk(col("word")).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e._1").as("word"), col("e._2").as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
    })(wordcountTop100TwinSql),
    // the TypedImperativeAggregate twin of topk_udaf: same Misra-Gries
    // semantics, raw-JVM-object buffer with length-prefixed binary
    // serialization instead of encoder round trips (functions
    // .TopKByCountAgg); same oracle
    Q("topk_imperative", (s, d) => {
      val agg = org.apache.spark.sql.GraftSqlShim.column(
        graft.functions.TopKByCountAgg(
          org.apache.spark.sql.GraftSqlShim.expression(col("word")), 100)
          .toAggregateExpression())
      TextOps.words(t(s, d).documents)
        .agg(agg.as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.value").as("word"), col("e.cnt").as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
    })(
      // imperative-aggregate twin must produce the identical exact top-k
      wordcountTop100TwinSql),
    // SQL entry point + SparkSessionExtensions-registered native fn
    Q("sql_api", (s, d) => {
      t(s, d).embeddings.createOrReplaceTempView("emb_v")
      s.sql("""SELECT label, count(*) AS n,
              | round(max(vec_dot(embedding, embedding)), 6) AS max_sq_norm
              |FROM emb_v GROUP BY label ORDER BY label""".stripMargin)
    })(
      """SELECT label, count(*) AS n,
        | round(max(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS max_sq_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),
    // GROUPING SETS through the SQL surface
    Q("grouping_sets", (s, d) => {
      t(s, d).lineitem.createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
              | coalesce(l_linestatus, 'ALL') AS linestatus,
              | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              | count(*) AS n
              |FROM lineitem_v GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
              |ORDER BY returnflag, linestatus""".stripMargin)
    })(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY returnflag, linestatus""".stripMargin),
    // CSV source/sink round trip: parquet -> csv -> csv scan -> agg
    // the CSV corner that corrupts real pipelines: embedded commas,
    // quotes AND newlines. RFC-4180 quote-doubling on write (escape =
    // quote char, not Spark's backslash default) + multiLine read;
    // the oracle computes the same aggregate from the CONSTRUCTED
    // text directly — hash equality proves the round trip lost
    // nothing through the quoting layer
    Q("csv_quoted_roundtrip", (s, d) => {
      val fx = t(s, d).documents.select(col("doc_id"),
        concat(lit("a,\"q\" "), col("text"), lit("\nline2 "), col("doc_id").cast("string")).as("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-csvq").toString
      fx.write.mode("overwrite").option("escape", "\"").csv(tmp)
      val back = s.read.schema("doc_id LONG, text STRING")
        .option("multiLine", "true").option("escape", "\"").csv(tmp)
      TextQuality.fingerprintRef(back)
        .agg(count(lit(1)).as("n_rows"), sum(col("fp")).as("fp_sum"))
        .crossJoin(broadcast(back.agg(sum(length(col("text"))).as("total_chars"))))
        .select(col("n_rows"), col("total_chars"), col("fp_sum"))
    })(
      s"""WITH fx AS (SELECT doc_id, 'a,"q" ' || text || chr(10) || 'line2 ' || CAST(doc_id AS VARCHAR) AS text
         |            FROM documents),
         | cw AS (SELECT doc_id, list_filter(list_transform(
         |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), t -> length(t) > 0),
         |    t -> lower(regexp_replace(t, '$P', '', 'g'))), w -> length(w) > 0) AS ws FROM fx),
         | h AS (SELECT doc_id, list_transform(ws, w ->
         |    CAST(coalesce(list_sum(list_transform(string_split(w, ''), c -> 22 + 23*(ascii(c) - 14))), 0) AS BIGINT)) AS hs
         |  FROM cw),
         | f AS (SELECT doc_id,
         |    CAST(((list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
         |      (acc, x) -> (acc * 31 + x) % 1000000007) % 1000000007) + 1000000007) % 1000000007 AS BIGINT) AS fp
         |  FROM h)
         |SELECT count(*) AS n_rows,
         | (SELECT CAST(sum(length(text)) AS BIGINT) FROM fx) AS total_chars,
         | CAST(sum(fp) AS BIGINT) AS fp_sum
         |FROM f""".stripMargin),
    Q("csv_roundtrip", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
      t(s, d).lineitem.select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("l_orderkey BIGINT, l_returnflag STRING, l_quantity DOUBLE")
        .csv(tmp)
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.dsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    })(
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
}
