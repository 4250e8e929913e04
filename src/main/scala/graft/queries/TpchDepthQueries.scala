package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.QuerySpec.Q
import graft.SparkEntry._
import graft.queries.Twins._

/** Deep-relational plan shapes (TPC-H flavoured, operators.TpchDepth),
  * then page rank, series search and event analytics; several of the
  * event queries share their twin with a streaming query. */
object TpchDepthQueries {
  val specs: Seq[QuerySpec] = Seq(
    Q("q2_min_cost_supplier", (s, d) => TpchDepth.q2MinCostSupplier(t(s, d)))(
      """WITH rs AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        | cost AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS cost
        |  FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM rs)
        |  GROUP BY 1, 2),
        | mc AS (SELECT l_partkey, min(cost) AS min_cost FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, s_suppkey, cost
        |FROM cost JOIN mc USING (l_partkey)
        |JOIN part ON l_partkey = p_partkey
        |JOIN rs ON l_suppkey = s_suppkey
        |WHERE cost = min_cost AND p_size <= 15 AND p_type = 'SMALL'
        |ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 20""".stripMargin),
    Q("q6_forecast_revenue", (s, d) => TpchDepth.q6ForecastRevenue(t(s, d)))(
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    Q("q9_product_profit", (s, d) => TpchDepth.q9ProductProfit(t(s, d)))(
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    - 0.8 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),
    Q("q11_important_stock", (s, d) => TpchDepth.q11ImportantStock(t(s, d)))(
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity * p_retailprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS vd
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(vd AS DOUBLE) AS value FROM v
        |WHERE vd * 1800 > (SELECT CAST(sum(vd) AS DECIMAL(38,2)) FROM v)
        |ORDER BY value DESC, l_partkey""".stripMargin),
    Q("q7_nation_volume", (s, d) => TpchDepth.q7NationVolume(t(s, d)))(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Q("q8_market_share", (s, d) => TpchDepth.q8MarketShare(t(s, d)))(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | round(
        |   CAST(sum(CAST(CASE WHEN n1.n_name = 'NATION_5'
        |       THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
        |   / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
        |   6) AS mkt_share
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |  AND o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |    JOIN region ON n2.n_regionkey = r_regionkey
        |    WHERE r_name = 'AMERICA')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q10_returned_items", (s, d) => TpchDepth.q10ReturnedItems(t(s, d)))(
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-10-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Q("q13_customer_distribution", (s, d) => TpchDepth.q13CustomerDistribution(t(s, d)))(
      """WITH cc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT o_orderkey, o_custkey FROM orders
        |    WHERE o_orderpriority <> '1-URGENT') o
        |  ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM cc GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Q("q4_priority_exists", (s, d) => TpchDepth.q4PriorityExists(t(s, d)))(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Q("q12_priority_split", (s, d) => TpchDepth.q12PrioritySplit(t(s, d)))(
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    Q("q14_promo_revenue", (s, d) => TpchDepth.q14PromoRevenue(t(s, d)))(
      """SELECT 100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
        |       / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin),
    Q("q16_supplier_cnt", (s, d) => TpchDepth.q16SupplierCount(t(s, d)))(
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 15 AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin),
    Q("q18_large_volume", (s, d) => TpchDepth.q18LargeVolume(t(s, d)))(
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 110.0)
        |SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin),
    Q("q19_disjunctive", (s, d) => TpchDepth.q19Disjunctive(t(s, d)))(
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    Q("q21_waiting_suppliers", (s, d) => TpchDepth.q21WaitingSuppliers(t(s, d)))(
      """WITH li AS (
        |  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        | late AS (SELECT DISTINCT l_orderkey AS lo, l_suppkey AS ls FROM li
        |          WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY),
        | ontime AS (SELECT DISTINCT l_orderkey AS oo, l_suppkey AS os FROM li
        |            WHERE l_shipdate <= o_orderdate + INTERVAL 90 DAY)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM late JOIN supplier ON ls = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM ontime WHERE oo = lo AND os <> ls)
        |GROUP BY s_suppkey, s_name ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin),
    Q("q22_dormant_customers", (s, d) => TpchDepth.q22DormantCustomers(t(s, d)))(
      """WITH a AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS a
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, a
        |WHERE c_acctbal > 0.5 * a.a
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1998-06-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    // correlated-subquery decorrelation shapes (scalar max over a
    // reused view; correlated scalar avg; nested correlated aggregate)
    Q("q15_top_supplier", (s, d) => TpchDepth.q15TopSupplier(t(s, d)))(
      // the revenue view appears twice (scalar max + row pick) — both
      // derive total_revenue through the same exact-decimal sum, so the
      // equality compares identical doubles on both engines
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
    Q("q17_small_qty_revenue", (s, d) => TpchDepth.q17SmallQuantityRevenue(t(s, d)))(
      // integer-exact threshold: q < 0.2*avg(q) algebra'd to 5*n*q <
      // sum(q) so no float division reaches the comparison on either side
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#4'),
        | pp AS (
        |  SELECT l_partkey AS pk, sum(CAST(l_quantity AS BIGINT)) AS sum_qty, count(*) AS n_li
        |  FROM li GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / CAST(7.0 AS DOUBLE) AS avg_yearly
        |FROM li JOIN pp ON l_partkey = pk
        |WHERE CAST(l_quantity AS BIGINT) * 5 * n_li < sum_qty""".stripMargin),
    Q("q20_dominant_suppliers", (s, d) => TpchDepth.q20DominantSuppliers(t(s, d)))(
      // nested correlated aggregate, integer dominance test (6*qty_ps >
      // qty_p, a >1/6 share) — the per-part rollup reads the
      // (part,supplier) aggregate, never the fact table twice
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty_ps
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |  GROUP BY 1, 2),
        | pp AS (SELECT l_partkey, sum(qty_ps) AS qty_p FROM shipped GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT DISTINCT l_suppkey FROM shipped JOIN pp USING (l_partkey)
        |  WHERE qty_ps * 6 > qty_p)
        |ORDER BY s_suppkey""".stripMargin),
    // iterative graph analytics: deterministic PageRank over the
    // supplier↔customer trade graph (both directions, so no node is a
    // pure sink). 5 fixed iterations; per-edge contributions rounded
    // then decimal-summed so the hash compare survives cross-engine
    // float accumulation — the twin unrolls the same 5 steps as CTEs
    Q("page_rank", (s, d) => {
      val tt = t(s, d)
      val pairs = tt.lineitem.join(tt.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
      val edges = pairs.select(col("sk").as("src"), (col("ck") + 100000L).as("dst"))
        .unionAll(pairs.select((col("ck") + 100000L).as("src"), col("sk").as("dst")))
      Graph.pageRank(edges).orderBy("node")
    })(pageRankTwinSql),
    // distributed time-series subsequence search: top-k z-normalized
    // matches of a literal pattern over every user's event-value
    // series, via the SEGMENTED window builder (per-group state is
    // segment-sized, never one key's whole series — identical window
    // set and bit-identical scores to the collect path, SeriesSpec).
    // Every per-window float is an ORDERED-array fold, so both
    // engines compute bit-identical doubles — a hash-exact similarity
    // search
    Q("series_subseq_topk", (s, d) =>
      Series.znormSubsequenceTopKSegmented(t(s, d).events, SeriesPattern, k = 20))(seriesTwinSql),
    Q("json_props_agg", (s, d) => Windows.propsKeyStats(t(s, d).events))(
      """SELECT event_type, count(DISTINCT CAST(json_extract(props, '$.k') AS INTEGER)) AS n_k,
        | CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        | min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
        | max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Spark 4 VARIANT: open-schema payload parsing with typed extraction
    Q("variant_props_agg", (s, d) => Windows.variantPropsStats(t(s, d).events))(
      // the variant round trip must preserve the typed values exactly
      """SELECT event_type AS vtype, count(*) AS n,
        | CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        | min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
        | max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Q("tumbling_agg", (s, d) => Windows.tumblingCounts(t(s, d).events))(tumblingAggTwinSql),
    Q("sliding_agg", (s, d) => Windows.slidingCounts(t(s, d).events))(slidingAggTwinSql),
    Q("session_agg", (s, d) => Windows.sessionize(t(s, d).events))(sessionAggTwinSql),
    // RFM segmentation: recency/frequency/monetary quartiles per user
    // (quartiles with user_id tie-break, anchored at the table's max
    // ts). The event-scale work is ONE aggregate; the three quartile
    // assignments run on the user-dimension relation via
    // TotalOrder.globalNtile — range-partitioned rank + integer
    // bucket arithmetic, so even a billion-user dimension never hits
    // a single-task ORDER BY (the plain ntile window would)
    Q("rfm_scores", (s, d) => {
      val e = t(s, d).events
      val anchor = e.agg(max(unix_micros(col("ts"))).as("anchor_us"))
      val per = e.groupBy(col("user_id")).agg(
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        graft.functions.dsum2(col("value")).as("mon"))
      // ONE adaptive decision for all three quartile passes: the user
      // dimension is pinned and counted once — below the cutover the
      // three plain ntile windows run on it (a few thousand rows sort
      // in one task for free); above it, three range-partitioned
      // globalNtile passes (value-identical, TotalOrderSpec-proven)
      val (base, small) = TotalOrder.fitsOneTask(
        per.crossJoin(broadcast(anchor))
          .withColumn("rec_us", col("anchor_us") - col("last_us")))
      val tiled =
        if (small) {
          base
            .withColumn("r", ntile(4).over(
              Window.orderBy(col("rec_us"), col("user_id"))).cast("long"))
            .withColumn("f", ntile(4).over(
              Window.orderBy(col("freq").desc, col("user_id"))).cast("long"))
            .withColumn("m", ntile(4).over(
              Window.orderBy(col("mon").desc, col("user_id"))).cast("long"))
        } else TotalOrder.globalNtile(
          TotalOrder.globalNtile(
            TotalOrder.globalNtile(base, Seq(col("rec_us"), col("user_id")), 4, "r"),
            Seq(col("freq").desc, col("user_id")), 4, "f"),
          Seq(col("mon").desc, col("user_id")), 4, "m")
      tiled
        .select(col("user_id"), col("freq"), round(col("mon"), 2).as("mon"),
          col("rec_us"), col("r"), col("f"), col("m"),
          concat(col("r"), col("f"), col("m")).as("rfm"))
        .orderBy("user_id")
    })(
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, CAST(value AS DECIMAL(18,2)) AS v FROM events),
        | a AS (SELECT max(us) AS anchor_us FROM e),
        | per AS (SELECT user_id, max(us) AS last_us, count(*) AS freq,
        |         CAST(sum(v) AS DOUBLE) AS mon FROM e GROUP BY 1),
        | w AS (SELECT user_id, freq, mon, (SELECT anchor_us FROM a) - last_us AS rec_us FROM per),
        | q AS (SELECT user_id, freq, mon, rec_us,
        |   CAST(ntile(4) OVER (ORDER BY rec_us, user_id) AS BIGINT) AS r,
        |   CAST(ntile(4) OVER (ORDER BY freq DESC, user_id) AS BIGINT) AS f,
        |   CAST(ntile(4) OVER (ORDER BY mon DESC, user_id) AS BIGINT) AS m
        |  FROM w)
        |SELECT user_id, freq, round(mon, 2) AS mon, rec_us, r, f, m,
        | CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS rfm
        |FROM q ORDER BY user_id""".stripMargin),
    // recency weighting: exponentially decayed event mass per type,
    // half-life 7 days, anchored at the table's own max ts (a
    // deterministic anchor — "now" would unhash every run); rounded
    // exp terms DECIMAL-summed, the LM ladder's rounded-log device
    Q("decayed_counts", (s, d) => {
      val e = t(s, d).events
      val anchor = e.agg(max(unix_micros(col("ts"))).as("anchor_us"))
      e.crossJoin(broadcast(anchor))
        .select(col("event_type"),
          round(exp(lit(-math.log(2.0) / 7.0) *
            ((col("anchor_us") - unix_micros(col("ts"))).cast("double") / lit(86400000000.0))), 12)
            .cast("decimal(38,12)").as("w"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("w")).cast("double"), 6).as("decayed_n"))
        .orderBy("event_type")
    })(
      // the decay constant is interpolated from the SAME Scala double
      // (shortest round-trip repr), so both engines start from one bit
      // pattern; exp + round(12) is the accepted rounded-log device
      s"""WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events),
         | a AS (SELECT max(epoch_us(tsu)) AS anchor_us FROM e),
         | w AS (SELECT event_type,
         |   CAST(round(exp(${-math.log(2.0) / 7.0} *
         |     (CAST((SELECT anchor_us FROM a) - epoch_us(tsu) AS DOUBLE) / 86400000000.0)), 12)
         |     AS DECIMAL(38,12)) AS w
         |  FROM e)
         |SELECT event_type, count(*) AS n, round(CAST(sum(w) AS DOUBLE), 6) AS decayed_n
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),
    // conversion latency: first view → first subsequent purchase per
    // (user, day); per-day nearest-rank p50/p90 of the exact-integer
    // µs lag (the event_gaps discipline — no interpolation)
    Q("conversion_lags", (s, d) => {
      val e = t(s, d).events.select(to_date(col("ts")).as("day"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val v = e.where(col("event_type") === "view")
        .groupBy(col("day"), col("user_id")).agg(min(col("us")).as("t_view"))
      val p = e.where(col("event_type") === "purchase")
        .join(v, Seq("day", "user_id"))
        .where(col("us") >= col("t_view"))
        .groupBy(col("day"), col("user_id"), col("t_view")).agg(min(col("us")).as("t_buy"))
        .select(col("day"), (col("t_buy") - col("t_view")).as("lag_us"))
      val w = Window.partitionBy(col("day")).orderBy(col("lag_us"))
      p.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("day"))))
        .groupBy(col("day"))
        .agg(max(col("n")).as("n_conversions"),
          max(when(col("rn") === ceil(col("n") * lit(0.5)).cast("long"), col("lag_us"))).as("p50_lag_us"),
          max(when(col("rn") === ceil(col("n") * lit(0.9)).cast("long"), col("lag_us"))).as("p90_lag_us"),
          max(col("lag_us")).as("max_lag_us"))
        .orderBy("day")
    })(
      // nearest-rank picks on exact integer µs lags; ties at a rank all
      // carry the same value, so tie order cannot flap the pick
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id, event_type,
        |           epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | v AS (SELECT day, user_id, min(us) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1, 2),
        | p AS (SELECT e.day, e.user_id, v.t_view, min(e.us) AS t_buy
        |       FROM e JOIN v ON e.day = v.day AND e.user_id = v.user_id
        |       WHERE e.event_type = 'purchase' AND e.us >= v.t_view GROUP BY 1, 2, 3),
        | l AS (SELECT day, t_buy - t_view AS lag_us FROM p),
        | r AS (SELECT day, lag_us, row_number() OVER (PARTITION BY day ORDER BY lag_us) AS rn,
        |       count(*) OVER (PARTITION BY day) AS n FROM l)
        |SELECT day, max(n) AS n_conversions,
        | max(CASE WHEN rn = CAST(ceil(n * CAST(0.5 AS DOUBLE)) AS BIGINT) THEN lag_us END) AS p50_lag_us,
        | max(CASE WHEN rn = CAST(ceil(n * CAST(0.9 AS DOUBLE)) AS BIGINT) THEN lag_us END) AS p90_lag_us,
        | max(lag_us) AS max_lag_us
        |FROM r GROUP BY day ORDER BY day""".stripMargin),
    // marketing attribution: each purchase credited to the user's
    // latest preceding click/view (last_value IGNORE NULLS over the
    // time-ordered stream — no self-join), 'none' when cold
    Q("attribution_last_touch", (s, d) => {
      val e = t(s, d).events.select(col("user_id"), col("event_id"), col("event_type"),
        to_date(col("ts")).as("day"), unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("click", "view"),
        struct(col("us"), col("event_id"), col("event_type")))
      e.withColumn("lt", last(touch, ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .select(col("day"),
          when(col("lt").isNotNull, col("lt.event_type")).otherwise(lit("none"))
            .as("attributed"))
        .groupBy(col("day"), col("attributed")).agg(count(lit(1)).as("n"))
        .orderBy("day", "attributed")
    })(
      // last_value IGNORE NULLS over the (us, event_id)-ordered stream
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |           epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | t AS (SELECT user_id, event_type, day,
        |       last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |       FROM e)
        |SELECT day, coalesce(lt, 'none') AS attributed, count(*) AS n
        |FROM t WHERE event_type = 'purchase' GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // path mining: top user journeys as event-type trigrams over each
    // user's time-ordered stream — per-user state is the type LIST
    // (array fold, no self-join); top-50 is TakeOrdered
    Q("event_paths", (s, d) => {
      val seqs = t(s, d).events
        .groupBy(col("user_id"))
        .agg(expr("transform(array_sort(collect_list(struct(ts, event_id, event_type)))," +
          " x -> x.event_type)").as("types"))
        .where(size(col("types")) >= 3)
      seqs.select(explode(expr(
          "transform(sequence(1, size(types) - 2)," +
            " i -> concat(types[i-1], '>', types[i], '>', types[i+1]))")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("path")).limit(50)
    })(
      // ordered list() per user (rn-keyed, never unnest order), trigram
      // paths by 1-based list indexing; (n desc, path) is total
      """WITH o AS (SELECT user_id, event_type,
        |        row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |        FROM events),
        | s AS (SELECT user_id, list(event_type ORDER BY rn) AS types FROM o GROUP BY 1),
        | p AS (SELECT types[i] || '>' || types[i+1] || '>' || types[i+2] AS path
        |       FROM (SELECT types, unnest(generate_series(1, len(types) - 2)) AS i
        |             FROM s WHERE len(types) >= 3) z)
        |SELECT path, count(*) AS n FROM p GROUP BY 1 ORDER BY n DESC, path LIMIT 50""".stripMargin),
    // behavior features: first-order Markov transition counts between
    // consecutive event types per user, with rounded row-conditional
    // probabilities
    Q("event_transitions", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = t(s, d).events
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
      pairs.groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"), 6))
        .orderBy("prev_type", "event_type")
    })(
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        | o AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev_type FROM e),
        | c AS (SELECT prev_type, event_type, count(*) AS n FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        | round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY prev_type, event_type""".stripMargin),
    // robust data-quality screen: median + MAD with the 5-MAD rule in
    // exact decimal over nearest-rank picks — the outlier test that
    // mean/stddev screens fail because outliers drag them
    Q("value_outliers", (s, d) =>
      Profiling.madOutliers(t(s, d).events).orderBy("event_type"))(
      """WITH e AS (SELECT event_type AS grp, event_id AS id, CAST(value AS DECIMAL(18,2)) AS v FROM events),
        | r1 AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY v, id) AS rn,
        |        count(*) OVER (PARTITION BY grp) AS n FROM e),
        | med AS (SELECT grp, v AS med FROM r1 WHERE rn = CAST(ceil(n * CAST(0.5 AS DOUBLE)) AS BIGINT)),
        | dv AS (SELECT e.grp, e.id, e.v, med.med, abs(e.v - med.med) AS dev FROM e JOIN med USING (grp)),
        | r2 AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY dev, id) AS rn,
        |        count(*) OVER (PARTITION BY grp) AS n FROM dv),
        | mad AS (SELECT grp, dev AS mad FROM r2 WHERE rn = CAST(ceil(n * CAST(0.5 AS DOUBLE)) AS BIGINT))
        |SELECT dv.grp AS event_type, count(*) AS n,
        | CAST(max(dv.med) AS DOUBLE) AS med, CAST(max(mad.mad) AS DOUBLE) AS mad,
        | CAST(sum(CASE WHEN dv.dev > mad.mad * 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | CAST(max(dv.dev) AS DOUBLE) AS max_dev
        |FROM dv JOIN mad USING (grp)
        |GROUP BY dv.grp ORDER BY dv.grp""".stripMargin),
    // the robust center MAD flags around: clamp into the nearest-rank
    // [p05, p95] band, then exact-decimal means raw vs winsorized
    Q("winsorized_stats", (s, d) =>
      Profiling.winsorizedStats(t(s, d).events).orderBy("event_type"))(
      // nearest-rank band edges (q forced DOUBLE), decimal clamp,
      // exact-decimal sums with one presentation division each
      """WITH e AS (SELECT event_type AS grp, event_id AS id, CAST(value AS DECIMAL(18,2)) AS v FROM events),
        | r AS (SELECT grp, id, v, row_number() OVER (PARTITION BY grp ORDER BY v, id) AS rn,
        |       count(*) OVER (PARTITION BY grp) AS n FROM e),
        | ed AS (SELECT grp,
        |        max(CASE WHEN rn = greatest(CAST(ceil(n * CAST(0.05 AS DOUBLE)) AS BIGINT), 1) THEN v END) AS p_lo,
        |        max(CASE WHEN rn = CAST(ceil(n * CAST(0.95 AS DOUBLE)) AS BIGINT) THEN v END) AS p_hi
        |        FROM r GROUP BY grp),
        | c AS (SELECT e.grp, e.v, ed.p_lo, ed.p_hi,
        |       CASE WHEN e.v < ed.p_lo THEN ed.p_lo
        |            WHEN e.v > ed.p_hi THEN ed.p_hi ELSE e.v END AS cv
        |       FROM e JOIN ed USING (grp))
        |SELECT grp AS event_type, count(*) AS n,
        | CAST(max(p_lo) AS DOUBLE) AS p05, CAST(max(p_hi) AS DOUBLE) AS p95,
        | round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_raw,
        | round(CAST(sum(cv) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_winsorized
        |FROM c GROUP BY grp ORDER BY grp""".stripMargin),
    // rollup-vs-fact drift census: header totals against decimal-
    // summed line amounts with a permille tolerance — exact verdicts
    Q("order_reconcile", (s, d) =>
      Relational.orderReconcile(t(s, d).lineitem, t(s, d).orders))(
      // per-line amount = one fixed-association double product rounded
      // 4 dp, DECIMAL-summed; verdicts compare exact decimals
      """WITH line AS (SELECT l_orderkey AS ok,
        |  CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax), 4) AS DECIMAL(28,4)) AS amt
        |  FROM lineitem),
        | comp AS (SELECT ok, sum(amt) AS computed FROM line GROUP BY 1),
        | j AS (SELECT CAST(o.o_totalprice AS DECIMAL(18,2)) AS tot,
        |       c.computed IS NULL AS no_lines,
        |       abs(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(28,4))
        |         - coalesce(c.computed, CAST(0 AS DECIMAL(28,4)))) AS dev
        |       FROM orders o LEFT JOIN comp c ON o.o_orderkey = c.ok)
        |SELECT count(*) AS n_orders,
        | CAST(sum(CASE WHEN no_lines THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
        | CAST(sum(CASE WHEN dev = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        | CAST(sum(CASE WHEN dev * 1000 <= CAST(tot AS DECIMAL(28,4)) * 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_tol,
        | CAST(max(dev) AS DOUBLE) AS max_dev
        |FROM j""".stripMargin),
    // EXACT heavy hitters over the cleaned word stream: every word
    // with frequency > total/2000 — the provably-complete hot-word
    // blocklist (pigeonhole: < 2000 such words can exist) that the
    // count-min sketch only candidates for. Two map-side-combined
    // aggregates; share as floor-ppm integer arithmetic
    Q("heavy_hitters", (s, d) =>
      Profiling.heavyHitters(TextOps.words(t(s, d).documents), "word", k = 2000)
        .orderBy("key"))(
      // the strict n·k > total cut in pure BIGINT arithmetic; ppm via
      // floor of one identical IEEE division (DuckDB CAST would round)
      s"""$WDoc,
         | c AS (SELECT word AS key, count(*) AS n FROM w GROUP BY 1),
         | t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
         |SELECT key, n, CAST((CAST(n AS HUGEINT) * 1000000) // CAST(total AS HUGEINT) AS BIGINT) AS share_ppm
         |FROM c CROSS JOIN t WHERE n * 2000 > total ORDER BY key""".stripMargin),
    // volume-spike tripwire: per-type daily counts scored against the
    // preceding 7 observations' mean/stddev (row-frame, exact integer
    // frame sums, fixed-association float finish, rounded-z cut)
    Q("rolling_anomaly", (s, d) =>
      Series.rollingAnomaly(t(s, d).events).orderBy("key", "day"))(
      // row-based lookback frame of exact integer sums; mean/var/z in a
      // fixed-association float finish; the anomaly cut compares the
      // ROUNDED z on both engines
      rollingAnomalyTwin),
    // grow/decay screen: per-type OLS slope of daily volume with all
    // four moment sums exact longs and ONE double division at the end
    Q("trend_slopes", (s, d) =>
      Series.trendSlopes(t(s, d).events).orderBy("key"))(
      // all four moment sums exact BIGINTs; slope/intercept are the
      // same fixed-order double ops as the Spark side
      trendSlopesTwin),
    // WHEN the feed changed: integer-exact CUSUM peak (n·Sᵢ − i·Σy —
    // no float accumulation, association-proof under segment trees)
    Q("change_points", (s, d) =>
      Series.changePoints(t(s, d).events).orderBy("key"))(
      // n·Sᵢ − i·Σy in pure BIGINT arithmetic — segment-tree window
      // aggregation can't move an integer sum; top-1 by |peak|, day asc
      changePointsTwinSql),
    // volume = trend + seasonal + residual per (type, day): centered
    // observed-day MA trend, epoch-arithmetic day-of-week seasonal
    // means, and the residual a feed alert should threshold instead
    // of raw volume (which confounds weekly shape with anomalies)
    Q("stl_decompose", (s, d) =>
      Series.stlDecompose(t(s, d).events).orderBy("key", "day"))(
      // same daily CTE in micro-integer units (floor of int*1e6/cnt is
      // provably exact — see the operator doc); dow via
      // (day − epoch-Monday) % 7, not DAYOFWEEK (anchors differ)
      stlTwinSql),
    // equi-depth histogram of a ROW-SCALE fact column — the
    // statistics-building primitive a CBO's column stats and a
    // feature-binning step both need: 10 equal-population bins with
    // exact bounds/mass. The bin assignment is TotalOrder.globalNtile
    // (range-partitioned TeraSort rank + integer bucket arithmetic) —
    // the plain ntile window the twin uses would be a single-task
    // sort of the whole fact table at 100 TB
    // the dynamic-batching planner: equal-population length buckets
    // (the equidepth ntile device) with exact pad-token accounting vs
    // the naive global-max padding cost
    Q("length_bucket_plan", (s, d) =>
      Corpus.lengthBucketPlan(t(s, d).documents).orderBy("bucket"))(
      // the twin's plain ntile window IS the single-task sort the Spark
      // side's range-partitioned globalNtile avoids — same answer by
      // the SQL-standard bucket arithmetic (TotalOrderSpec proves the
      // equivalence for even and ragged bucket counts)
      // ntile window twin of the range-partitioned globalNtile (the
      // equidepth device); pad arithmetic is exact BIGINT, ppm floored
      """WITH tc AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0)) AS BIGINT) AS n_toks FROM documents),
        | b AS (SELECT doc_id, n_toks, ntile(8) OVER (ORDER BY n_toks, doc_id) AS bucket FROM tc),
        | g AS (SELECT max(n_toks) AS gmax FROM tc),
        | a AS (SELECT bucket, count(*) AS n_docs, min(n_toks) AS min_len,
        |        max(n_toks) AS max_len, CAST(sum(n_toks) AS BIGINT) AS sum_tokens
        |       FROM b GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, min_len, max_len, sum_tokens,
        | n_docs * max_len - sum_tokens AS pad_tokens,
        | CAST(floor((n_docs * max_len - sum_tokens) * 1000000 / (n_docs * max_len)) AS BIGINT) AS pad_ppm,
        | n_docs * g.gmax - sum_tokens AS naive_pad_tokens
        |FROM a CROSS JOIN g ORDER BY bucket""".stripMargin),
    Q("equidepth_bins", (s, d) => {
      val li = t(s, d).lineitem.select(
        col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      TotalOrder.globalNtile(li,
          Seq(col("v").asc, col("ok").asc, col("ln").asc), 10, "bin")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("v")).cast("double").as("lo"),
          max(col("v")).cast("double").as("hi"),
          sum(col("v")).cast("double").as("mass"))
        .orderBy("bin")
    })(
      """WITH li AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |            l_orderkey AS ok, l_linenumber AS ln FROM lineitem),
        | b AS (SELECT v, ntile(10) OVER (ORDER BY v, ok, ln) AS bin FROM li)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
        | CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi,
        | CAST(sum(v) AS DOUBLE) AS mass
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
    // robust center under unequal row mass: exact-decimal nearest-rank
    // on cumulative weight — a real data value, no interpolation
    Q("weighted_median", (s, d) =>
      Relational.weightedMedian(t(s, d).lineitem,
        "l_returnflag", "l_extendedprice", "l_quantity").orderBy("l_returnflag"))(
      // exact-decimal cumulative-weight pick; DECIMAL compares, one
      // presentation cast at the end
      """WITH g AS (SELECT l_returnflag AS grp, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |           sum(CAST(l_quantity AS DECIMAL(18,2))) AS w FROM lineitem GROUP BY 1, 2),
        | r AS (SELECT grp, v, w,
        |       sum(w) OVER (PARTITION BY grp ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw,
        |       sum(w) OVER (PARTITION BY grp) AS tw FROM g)
        |SELECT grp AS l_returnflag, CAST(min(v) AS DOUBLE) AS weighted_median,
        |       CAST(max(tw) AS DOUBLE) AS total_weight
        |FROM r WHERE cw * 2 >= tw GROUP BY grp ORDER BY grp""".stripMargin),
    // orphan census over the star schema's four FK edges — one join +
    // folded count per edge, no orphan list materialized
    Q("fk_integrity", (s, d) => {
      val tt = t(s, d)
      Relational.fkIntegrity(Seq(
        ("lineitem.l_orderkey->orders", tt.lineitem, "l_orderkey", tt.orders, "o_orderkey"),
        ("lineitem.l_partkey->part", tt.lineitem, "l_partkey", tt.part, "p_partkey"),
        ("lineitem.l_suppkey->supplier", tt.lineitem, "l_suppkey", tt.supplier, "s_suppkey"),
        ("orders.o_custkey->customer", tt.orders, "o_custkey", tt.customer, "c_custkey")))
        .orderBy("fk_edge")
    })(Seq(
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
      .map { case (name, child, fk, parent, pk) =>
        s"""(SELECT '$name' AS fk_edge, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
           | FROM (SELECT $fk AS k FROM $child) c
           | LEFT JOIN (SELECT DISTINCT $pk AS k FROM $parent) p ON c.k = p.k)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")),
    // Benford first-digit screen on prices: string-extracted digit
    // (no log10 at power-of-ten boundaries), floor-ppm shares vs the
    // log10(1+1/d) expectation, signed deviation per digit
    Q("benford_screen", (s, d) =>
      Profiling.benfordScreen(t(s, d).lineitem, "l_extendedprice").orderBy("digit"))(
      // digit via string extraction from floor(|x|); expectation is the
      // same ln/ln-10 two-op double on both engines, floored to ppm
      """WITH d AS (SELECT CAST(substring(CAST(CAST(floor(abs(l_extendedprice)) AS DECIMAL(38,0)) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |           FROM lineitem WHERE abs(l_extendedprice) >= 1),
        | c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        | t AS (SELECT digit, n, sum(n) OVER () AS total FROM c),
        | f AS (SELECT digit, n,
        |        CAST((CAST(n AS HUGEINT) * 1000000) // CAST(total AS HUGEINT) AS BIGINT) AS share_ppm,
        |        CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1000000.0) AS BIGINT) AS benford_ppm
        |        FROM t)
        |SELECT digit, n, share_ppm, benford_ppm, share_ppm - benford_ppm AS dev_ppm
        |FROM f ORDER BY digit""".stripMargin),
    // pre-shuffle skew audit over lineitem's join/agg keys: distinct
    // count, hottest-key and top-10 share (floor-ppm), normalized
    // Shannon entropy (rounded-nats DECIMAL sum) — the report that
    // decides salting vs AQE before a 100 TB shuffle runs
    Q("skew_report", (s, d) => {
      // branch decision from the parquet-footer stat — zero Spark jobs
      // spent picking the plan (VERDICT r13 #4)
      val tt = t(s, d)
      Profiling.skewReport(tt.lineitem,
        Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus"),
        sizeHint = Some(tt.rowCountStat("lineitem")))
        .orderBy("key_col")
    })(
      // per-key-column block UNION ALL'd; entropy terms are
      // round(p·-ln p, 9) DECIMAL-summed (the LM-ladder device), bits =
      // nats / ln 2 in one final double op
      Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus")
      .map { kc =>
        s"""(WITH c AS (SELECT CAST($kc AS VARCHAR) AS key, count(*) AS n FROM lineitem GROUP BY 1),
           |  r AS (SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rk,
           |        sum(n) OVER () AS tot FROM c),
           |  t AS (SELECT key, n, rk, tot, CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p FROM r),
           |  h AS (SELECT key, n, rk, tot, CAST(round(p * -ln(p), 9) AS DECIMAL(38,9)) AS h_term FROM t),
           |  a AS (SELECT count(*) AS n_keys, CAST(max(tot) AS BIGINT) AS total,
           |        max(CASE WHEN rk = 1 THEN n END) AS top1,
           |        CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS BIGINT) AS top10,
           |        sum(h_term) AS h_nats FROM h)
           | SELECT '$kc' AS key_col, n_keys, total,
           |  CAST((CAST(top1 AS HUGEINT) * 1000000) // CAST(total AS HUGEINT) AS BIGINT) AS top1_ppm,
           |  CAST((CAST(top10 AS HUGEINT) * 1000000) // CAST(total AS HUGEINT) AS BIGINT) AS top10_ppm,
           |  round(CAST(h_nats AS DOUBLE) / ln(2.0), 6) AS entropy_bits,
           |  round(CASE WHEN n_keys > 1
           |        THEN CAST(h_nats AS DOUBLE) / ln(CAST(n_keys AS DOUBLE))
           |        ELSE 0.0 END, 6) AS entropy_norm
           | FROM a)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY key_col")),
    // inter-arrival profile: per-user consecutive-event gaps in exact
    // integer microseconds, NEAREST-RANK percentiles (value at rank
    // ceil(q·n) — engines' interpolating percentiles differ by an ulp
    // and flip rounding boundaries; the picked value is an exact
    // integer, so the hash can't flap) — the burst/bot tell a raw
    // event feed gets screened with
    Q("event_gaps", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = t(s, d).events
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("user_id"),
          (unix_micros(col("ts")) - unix_micros(col("prev"))).as("gap_us"))
      val ranked = gaps
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("gap_us"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      ranked.groupBy("user_id").agg(
          count(lit(1)).as("n_gaps"),
          max(when(col("rn") === ceil(col("n") * lit(0.5)).cast("long"), col("gap_us"))).as("p50_gap"),
          max(when(col("rn") === ceil(col("n") * lit(0.9)).cast("long"), col("gap_us"))).as("p90_gap"),
          max(col("gap_us")).as("max_gap"))
        .orderBy("user_id")
    })(
      // nearest-rank pick: ceil(q·n) with q forced to DOUBLE (DuckDB's
      // bare 0.9 is DECIMAL — exact 9.0 where IEEE gives 9.000…002, a
      // different ceil)
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        | o AS (SELECT user_id, event_id, tsu,
        |        lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev FROM e),
        | g AS (SELECT user_id, epoch_us(tsu) - epoch_us(prev) AS gap_us FROM o WHERE prev IS NOT NULL),
        | r AS (SELECT user_id, gap_us,
        |        row_number() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n FROM g)
        |SELECT user_id, count(*) AS n_gaps,
        | max(CASE WHEN rn = CAST(ceil(n * CAST(0.5 AS DOUBLE)) AS BIGINT) THEN gap_us END) AS p50_gap,
        | max(CASE WHEN rn = CAST(ceil(n * CAST(0.9 AS DOUBLE)) AS BIGINT) THEN gap_us END) AS p90_gap,
        | max(gap_us) AS max_gap
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** The subsequence-search pattern, shared by the Spark query and the
    * twin builder (a shape with one rise-dip-rise, w = 8). */
  private val SeriesPattern: Seq[Double] = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 5.5, 8.0)

  /** Time-series twin: the identical ordered folds in DuckDB list
    * lambdas. Seeding parity: Spark's aggregate starts at 0.0 and
    * DuckDB's list_reduce starts at the first element — IEEE 0.0 + x
    * == x exactly, so the partial sums coincide from the first add.
    * The z-normalized pattern embeds as shortest-round-trip double
    * literals, which both engines parse back to the identical bits. */
  private lazy val seriesTwinSql: String = {
    val w = SeriesPattern.length
    val pMu = SeriesPattern.sum / w
    val pSd = math.sqrt(SeriesPattern.map(x => (x - pMu) * (x - pMu)).sum / w)
    val pz = SeriesPattern.map(x => (x - pMu) / pSd).mkString("[", ", ", "]")
    s"""WITH s AS (
       |  SELECT user_id, array_agg(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS vs
       |  FROM events GROUP BY user_id),
       | wn AS (
       |  SELECT user_id, CAST(i AS BIGINT) AS pos, list_slice(vs, i, i + ${w - 1}) AS win
       |  FROM (SELECT user_id, vs, unnest(generate_series(1, len(vs) - ${w - 1})) AS i
       |        FROM s WHERE len(vs) >= $w)),
       | st AS (
       |  SELECT user_id, pos, win,
       |    list_reduce(win, (a, x) -> a + x) / ${w}.0 AS mu
       |  FROM wn),
       | sdv AS (
       |  SELECT user_id, pos, win, mu,
       |    sqrt(list_reduce(list_transform(win, x -> (x - mu) * (x - mu)), (a, y) -> a + y) / ${w}.0) AS sdev
       |  FROM st),
       | d AS (
       |  SELECT user_id, pos,
       |    list_reduce(list_transform(list_zip(win, $pz),
       |      s2 -> ((s2[1] - mu) / sdev - s2[2]) * ((s2[1] - mu) / sdev - s2[2])), (a, y) -> a + y) AS dist
       |  FROM sdv WHERE sdev > 0)
       |SELECT user_id, pos, round(dist, 6) AS dist_r
       |FROM d ORDER BY dist_r, user_id, pos LIMIT 20""".stripMargin
  }

  private lazy val pageRankTwinSql: String = pageRankUnrolled(
    """WITH pairs AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      | edges AS (SELECT s AS src, 100000 + c AS dst FROM pairs
      |           UNION ALL SELECT 100000 + c AS src, s AS dst FROM pairs)""".stripMargin)
}
