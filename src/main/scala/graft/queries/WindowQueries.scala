package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import graft.QuerySpec.Q
import graft.SparkEntry._
import graft.queries.Twins._

/** Windows: analytic windows, as-of and interval joins, funnels and
  * cohorts. */
object WindowQueries {
  val specs: Seq[QuerySpec] = Seq(
    Q("window_funcs", (s, d) => Windows.perUserAnalytics(t(s, d).events))(
      """WITH e AS (SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS tsu FROM events)
        |SELECT event_id, user_id, event_type, value,
        | CAST(row_number() OVER w AS BIGINT) AS rn,
        | lag(value, 1) OVER w AS prev_value,
        | lead(event_type, 1) OVER w AS next_type,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        | count(*) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS events_so_far,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY tsu
        |   RANGE BETWEEN INTERVAL '30 minutes' PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30m_value
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |ORDER BY user_id, rn""".stripMargin),
    Q("asof_join", (s, d) => Windows.lastClickBeforePurchase(t(s, d).events))(
      """WITH e AS (SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        | x AS (SELECT event_id, user_id, event_type,
        |   last_value(CASE WHEN event_type = 'click' THEN tsu END IGNORE NULLS) OVER w AS prev_click_ts,
        |   last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS) OVER w AS prev_click_value
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, prev_click_ts, prev_click_value FROM x
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),
    Q("interval_join", (s, d) => Windows.purchasesWithRecentClicks(t(s, d).events))(IntervalJoinSql),
    Q("window_ranks", (s, d) => Windows.perUserRanks(t(s, d).events))(
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsu FROM events)
        |SELECT event_id, user_id, dense_rank() OVER w AS drnk, ntile(4) OVER w AS nt,
        | percent_rank() OVER w AS prank, cume_dist() OVER w AS cdist
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |ORDER BY event_id""".stripMargin),
    // ordered view -> click -> purchase funnel, each stage anchored at
    // the first qualifying event of the previous stage
    Q("funnel_daily", (s, d) => Windows.funnelDaily(t(s, d).events))(
      // each stage: first qualifying event at-or-after the previous
      // stage's anchor, per (day, user); day rollups join on the day
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS tsu FROM events),
        | v AS (SELECT day, user_id, min(tsu) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1, 2),
        | c AS (SELECT e.day, e.user_id, min(e.tsu) AS t_click FROM e JOIN v USING (day, user_id)
        |        WHERE e.event_type = 'click' AND e.tsu >= v.t_view GROUP BY 1, 2),
        | b AS (SELECT e.day, e.user_id, min(e.tsu) AS t_buy FROM e JOIN c USING (day, user_id)
        |        WHERE e.event_type = 'purchase' AND e.tsu >= c.t_click GROUP BY 1, 2),
        | nv AS (SELECT day, count(*) AS n_view FROM v GROUP BY day),
        | nc AS (SELECT day, count(*) AS n_click FROM c GROUP BY day),
        | nb AS (SELECT day, count(*) AS n_buy FROM b GROUP BY day)
        |SELECT nv.day, nv.n_view, coalesce(nc.n_click, 0) AS n_click, coalesce(nb.n_buy, 0) AS n_buy
        |FROM nv LEFT JOIN nc USING (day) LEFT JOIN nb USING (day) ORDER BY nv.day""".stripMargin),
    // MATCH_RECOGNIZE-style sequence matching, sessionize-first:
    // per-SESSION event strings in total (ts, event_id) order,
    // regex-counted for the view→click→purchase pattern, rolled up
    // per user — collected state is session-bounded, never
    // whole-history
    // 12-hour gap: the events table's median per-user inter-event gap
    // is ~7h, so shorter gaps sessionize every event alone
    Q("event_pattern_match", (s, d) =>
      Windows.eventPatternMatches(t(s, d).events, gapMinutes = 720).orderBy("user_id"))(
      // sessionize-first: the same gaps-and-islands split (>= 12-hour
      // µs-integer gap breaks, lag-null fall-through to 0) before the
      // per-SESSION token string — a pattern cannot span sessions on
      // either engine
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | g AS (SELECT user_id, event_id, event_type, tsu,
        |        CASE WHEN us - lag(us) OVER w >= 43200000000 THEN 1 ELSE 0 END AS brk
        |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        | sx AS (SELECT user_id, event_id, event_type, tsu,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |        FROM g),
        | t AS (SELECT user_id, sess,
        |        string_agg('[' || event_type || ']', '' ORDER BY tsu, event_id) AS seq
        |       FROM sx GROUP BY 1, 2),
        | m AS (SELECT user_id,
        |        CAST(sum(len(regexp_extract_all(seq, '\[view\]\[click\]\[purchase\]'))) AS BIGINT) AS n_matches
        |        FROM t GROUP BY 1)
        |SELECT user_id, n_matches FROM m WHERE n_matches > 0
        |ORDER BY user_id""".stripMargin),
    // cohort retention matrix: first-activity-week cohorts × activity
    // weeks, rate against cohort size — nothing windows the raw events
    Q("cohort_retention", (s, d) =>
      Windows.cohortRetention(t(s, d).events)
        .orderBy("cohort_week", "activity_week"))(
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        | cohort AS (SELECT user_id, min(date_trunc('week', tsu)) AS cohort_week FROM e GROUP BY 1),
        | sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY 1),
        | active AS (SELECT DISTINCT user_id, date_trunc('week', tsu) AS activity_week FROM e),
        | m AS (SELECT cohort_week, activity_week, count(*) AS n_users
        |       FROM active JOIN cohort USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_week, activity_week, n_users,
        |       round(CAST(n_users AS DOUBLE) / cohort_size, 6) AS retention
        |FROM m JOIN sizes USING (cohort_week)
        |ORDER BY cohort_week, activity_week""".stripMargin),
    // Spark 4 recursive CTE (UnionLoop): dense monthly spine over the
    // orders date range; LEFT JOIN zero-fills order-free months. The
    // spine is driver-free iteration INSIDE the engine — the recursive
    // union materializes per step, 80 steps here, each a one-row add.
    Q("recursive_spine", (s, d) => {
      t(s, d).orders.createOrReplaceTempView("orders_rs")
      s.sql("""WITH RECURSIVE spine(mon) AS (
              |  SELECT CAST('1995-01-01 00:00:00' AS TIMESTAMP)
              |  UNION ALL
              |  SELECT mon + INTERVAL '1' MONTH FROM spine
              |  WHERE mon < CAST('2001-08-01 00:00:00' AS TIMESTAMP)
              |)
              |SELECT s.mon, count(o.o_orderkey) AS n_orders,
              |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              |FROM spine s LEFT JOIN orders_rs o ON date_trunc('MONTH', o.o_orderdate) = s.mon
              |GROUP BY s.mon ORDER BY s.mon""".stripMargin)
    })(
      """WITH RECURSIVE spine(mon) AS (
        |  SELECT TIMESTAMP '1995-01-01 00:00:00'
        |  UNION ALL
        |  SELECT mon + INTERVAL 1 MONTH FROM spine WHERE mon < TIMESTAMP '2001-08-01 00:00:00'
        |)
        |SELECT s.mon, count(o.o_orderkey) AS n_orders,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM spine s LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = s.mon
        |GROUP BY s.mon ORDER BY s.mon""".stripMargin))
}
