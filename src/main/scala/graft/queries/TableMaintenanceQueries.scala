package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.LakeTable
import graft.QuerySpec.Q
import graft.SparkEntry._

/** Table maintenance (graft.operators.ChangeData, TotalOrder and
  * sources.LakeTable): CDC merge, the lake table's commits and
  * history, view maintenance, dimension history and the global total
  * order. */
object TableMaintenanceQueries {
  val specs: Seq[QuerySpec] = Seq(
    // MERGE a deterministic CDC batch (updates, deletes, inserts
    // derived from key residues) into the customer base table: one
    // full-outer join on the key, column-wise coalesce, delete filter
    Q("merge_upsert", (s, d) => {
      val base = t(s, d).customer
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val existing = t(s, d).customer
        .where(col("c_custkey") % 10 === 0 || col("c_custkey") % 7 === 3)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 3, "delete").otherwise("upsert").as("op"),
          when(col("c_custkey") % 7 === 3, lit(null).cast("string"))
            .otherwise(lit("REACTIVATED")).as("c_mktsegment"),
          lit(null).cast("double").as("c_acctbal"))
      val inserts = t(s, d).customer.where(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 100000).as("c_custkey"), lit("upsert").as("op"),
          lit("NEW").as("c_mktsegment"), lit(0.0).as("c_acctbal"))
      ChangeData.mergeApply(base, existing.unionAll(inserts), "c_custkey")
        .orderBy("c_custkey")
    })(
      // CDC MERGE semantics spelled out relationally: the same derived
      // change batch, full outer join, delete filter, column coalesce
      """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        | chg AS (
        |   SELECT c_custkey,
        |     CASE WHEN c_custkey % 7 = 3 THEN 'delete' ELSE 'upsert' END AS op,
        |     CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE 'REACTIVATED' END AS c_mktsegment,
        |     CAST(NULL AS DOUBLE) AS c_acctbal
        |   FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 7 = 3
        |   UNION ALL
        |   SELECT c_custkey + 100000, 'upsert', 'NEW', 0.0
        |   FROM customer WHERE c_custkey % 100 = 0)
        |SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
        |       coalesce(c.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
        |       coalesce(c.c_acctbal, b.c_acctbal) AS c_acctbal
        |FROM base b FULL OUTER JOIN chg c ON b.c_custkey = c.c_custkey
        |WHERE c.op IS NULL OR c.op = 'upsert'
        |ORDER BY c_custkey""".stripMargin),
    // the transactional table lifecycle as ONE commit: init a
    // key-clustered LakeTable from customer, merge a KEY-LOCALIZED CDC
    // batch (updates/deletes/inserts confined to keys 300-400, so only
    // the files covering that interval are rewritten and re-stat'd —
    // LakeTableSpec counts them), read the new snapshot. The oracle is
    // the plain full recompute: hash-green proves the pruned partial
    // rewrite equals the full merge
    Q("table_commit", (s, d) => {
      val dir = lake(s, d, "graft-lake")
      LakeTable.readLatest(s, dir).orderBy("c_custkey")
    })(
      // the LakeTable commit (pruned partial rewrite + carried files)
      // must equal the PLAIN full merge over the whole table — the
      // full-recompute oracle for the transactional lifecycle
      lakeMergeTwinSql),
    // merge-on-read deletes: an O(delta) delete-vector commit (ZERO
    // files rewritten — the read path subtracts the vector), then a
    // CoW merge that resurrects part of the band and must reconcile
    // the vector (fresh upserts may not stay masked). Oracle = the
    // equivalent filter/union recompute
    Q("table_delete_vectors", (s, d) => {
      val dir = lake(s, d, "graft-lake-dv", merge = false)
      val dv = LakeTable.commitDelete(
        tableCommitBase(s, d).where(col("c_custkey").between(350, 380))
          .select(col("c_custkey")), dir, "c_custkey")
      require(dv.filesRewritten == 0L, "delete-vector commit must rewrite nothing")
      LakeTable.commitMerge(
        tableCommitBase(s, d).where(col("c_custkey").between(360, 365))
          .select(col("c_custkey"), lit("upsert").as("op"),
            lit("BACK").as("c_mktsegment"), lit(0.0).as("c_acctbal")),
        dir, "c_custkey", targetRowsPerFile = 250)
      LakeTable.readLatest(s, dir).orderBy("c_custkey")
    })(
      // delete band 350-380 via the vector, resurrect 360-365 via merge:
      // survivors = outside the band, plus the resurrected rows
      """SELECT c_custkey,
        |  CASE WHEN c_custkey BETWEEN 360 AND 365 THEN 'BACK' ELSE c_mktsegment END AS c_mktsegment,
        |  CASE WHEN c_custkey BETWEEN 360 AND 365 THEN 0.0 ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |WHERE c_custkey NOT BETWEEN 350 AND 380 OR c_custkey BETWEEN 360 AND 365
        |ORDER BY c_custkey""".stripMargin),
    // compaction commit on top of the merge: small files rewrite into
    // key-clustered larger ones, content untouched — the SAME oracle as
    // table_commit, so hash-green proves compaction is invisible to
    // readers
    Q("table_compact", (s, d) => {
      val dir = lake(s, d, "graft-lake-cp")
      LakeTable.commitCompact(s, dir, "c_custkey", smallFileRows = 200, targetRowsPerFile = 1000)
      LakeTable.readLatest(s, dir).orderBy("c_custkey")
    })(
      // compaction is reader-invisible: same rows, same oracle
      lakeMergeTwinSql),
    // ADDITIVE SCHEMA EVOLUTION through a commit: the batch carries a
    // column the table never had (c_tier); touched rows take its
    // values, carried files read it as NULL via mergeSchema — Delta's
    // mergeSchema posture from plain column algebra, full-recompute
    // oracle with the same union-payload semantics
    Q("table_evolve", (s, d) => {
      val dir = lake(s, d, "graft-lake-ev", merge = false)
      // [10, 110] — non-empty at EVERY shipped sf (sf0.001 keys stop at
      // 149) AND keeps the % 50 == 0 insert arm populated (keys 50,
      // 100), so schema evolution lands on updates and inserts alike
      val evolved = tableCommitChanges(s, d, lo = 10, hi = 110)
        .withColumn("c_tier",
          when(col("op") === "upsert", lit("GOLD")).otherwise(lit(null).cast("string")))
      LakeTable.commitMerge(evolved, dir, "c_custkey", targetRowsPerFile = 250)
      LakeTable.readLatest(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"), col("c_tier"))
        .orderBy("c_custkey")
    })(
      // the union-payload evolution: rows the batch upserted carry the
      // new column's value; every other surviving row reads NULL
      """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        | chg AS (
        |   SELECT c_custkey,
        |     CASE WHEN c_custkey % 7 = 3 THEN 'delete' ELSE 'upsert' END AS op,
        |     CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE 'MOVED' END AS c_mktsegment,
        |     CAST(NULL AS DOUBLE) AS c_acctbal,
        |     CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE 'GOLD' END AS c_tier
        |   FROM customer WHERE c_custkey BETWEEN 10 AND 110
        |   UNION ALL
        |   SELECT c_custkey + 100000, 'upsert', 'NEW', 0.0, 'GOLD'
        |   FROM customer WHERE c_custkey % 50 = 0 AND c_custkey BETWEEN 10 AND 110)
        |SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
        |       coalesce(c.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
        |       coalesce(c.c_acctbal, b.c_acctbal) AS c_acctbal,
        |       c.c_tier AS c_tier
        |FROM base b FULL OUTER JOIN chg c ON b.c_custkey = c.c_custkey
        |WHERE c.op IS NULL OR c.op = 'upsert'
        |ORDER BY c_custkey""".stripMargin),
    // time travel: after the commit above, snapshot v0 must still read
    // as the ORIGINAL table, byte-for-byte (the oracle is the plain
    // base projection)
    Q("table_time_travel", (s, d) => {
      val dir = lake(s, d, "graft-lake-tt")
      LakeTable.readVersion(s, dir, 0L).orderBy("c_custkey")
    })(
      // snapshot v0 read AFTER v1 was committed == the untouched base
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |ORDER BY c_custkey""".stripMargin),
    // CHANGE DATA FEED between two snapshots, derived from the
    // manifest diff alone: only the commit's rewritten/replaced files
    // are read (carried bytes are shared and CANNOT differ), and rows
    // rewritten unchanged (the rest of the touched files' key ranges)
    // are dropped by the null-safe compare. Oracle = classified FULL
    // OUTER diff of the recomputed before/after states
    Q("table_change_feed", (s, d) => {
      val dir = lake(s, d, "graft-lake-cdf")
      LakeTable.changesBetween(s, dir, 0L, 1L, "c_custkey")
        .orderBy("c_custkey", "_op")
    })(lakeChangeFeedTwinSql),
    // Bloom-indexed POINT LOOKUP maintained through commits: the
    // per-file filter store blooms only newly-written files (data
    // files are immutable), and the lookup probes driver-side, reads
    // possible files only, and still sees the merge's update — exact
    // (no false negatives), oracle = the filter over the recomputed
    // merged state
    Q("table_bloom_lookup", (s, d) => {
      val dir = lake(s, d, "graft-lake-bl", merge = false)
      LakeTable.ensureBlooms(s, dir, "c_acctbal")
      LakeTable.commitMerge(tableCommitChanges(s, d), dir, "c_custkey",
        targetRowsPerFile = 250)
      LakeTable.ensureBlooms(s, dir, "c_acctbal")
      // an anti-clustered probe: customer 42's balance (42 is outside
      // the change band, so its row lives in a carried file)
      val probe = tableCommitBase(s, d)
        .where(col("c_custkey") === 42).head().getDouble(2)
      val (rows, _, _) = LakeTable.lookupVersion(
        s, dir, LakeTable.versions(dir).last, "c_acctbal", probe)
      rows.orderBy("c_custkey")
    })(
      s"""$lakeMergeCtes
         |SELECT c_custkey, c_mktsegment, c_acctbal FROM merged
         |WHERE c_acctbal = (SELECT c_acctbal FROM customer WHERE c_custkey = 42)
         |ORDER BY c_custkey""".stripMargin),
    // CHECK-constrained commit: the same merge through the validation
    // seam (enforcement is O(merged rows), carried files can't newly
    // violate) — a passing batch must read exactly like table_commit
    Q("table_checked_commit", (s, d) => {
      val dir = lake(s, d, "graft-lake-ck", merge = false)
      LakeTable.commitMergeChecked(tableCommitChanges(s, d), dir, "c_custkey",
        targetRowsPerFile = 250, check = col("c_mktsegment").isNotNull)
      LakeTable.readLatest(s, dir).orderBy("c_custkey")
    })(lakeMergeTwinSql),
    // OPTIMIZE/ZORDER layout evolution: a full reclustering rewrite on
    // a NEW expression must be invisible to readers — same twin as
    // table_commit, same hash
    Q("table_recluster", (s, d) => {
      val dir = lake(s, d, "graft-lake-rc")
      LakeTable.commitRecluster(s, dir, "c_custkey", col("c_acctbal"),
        targetRowsPerFile = 250)
      LakeTable.readLatest(s, dir).orderBy("c_custkey")
    })(lakeMergeTwinSql),
    // SHALLOW CLONE: the clone's v0 references the source's files —
    // zero data copied; reading it must equal the source's merged
    // state (same twin as table_commit, which is the point)
    Q("table_clone", (s, d) => {
      val src = java.nio.file.Files.createTempDirectory("graft-lake-csrc").toString
      val cln = java.nio.file.Files.createTempDirectory("graft-lake-ccln").toString
      LakeTable.init(tableCommitBase(s, d), src, "c_custkey", nFiles = 8)
      LakeTable.commitMerge(tableCommitChanges(s, d), src, "c_custkey",
        targetRowsPerFile = 250)
      LakeTable.cloneShallow(s, src, cln)
      LakeTable.readLatest(s, cln).orderBy("c_custkey")
    })(lakeMergeTwinSql),
    // DESCRIBE HISTORY off the manifests alone (no data file read):
    // row counts per snapshot across init → merge → compaction, the
    // compaction row proving reader-count invariance
    Q("table_history", (s, d) => {
      val dir = lake(s, d, "graft-lake-h")
      LakeTable.commitCompact(s, dir, "c_custkey", smallFileRows = 200, targetRowsPerFile = 1000)
      LakeTable.history(s, dir).select(col("version"), col("n_rows"))
        .orderBy("version")
    })(
      s"""$lakeMergeCtes
         |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows FROM base
         |UNION ALL SELECT 1, count(*) FROM merged
         |UNION ALL SELECT 2, count(*) FROM merged
         |ORDER BY version""".stripMargin),
    // the change feed FEEDING incremental view maintenance: a
    // per-segment aggregate view built at v0 stays current through the
    // commit by consuming changesBetween's pre/post images as signed
    // deltas (update_pre/delete retract, update_post/insert assert) —
    // the lake table maintains its own materialized views without
    // re-reading itself. Oracle = the aggregate over the recomputed
    // merged state
    Q("table_view_maintenance", (s, d) => {
      val dir = lake(s, d, "graft-lake-mv", merge = false)
      val view0 = ChangeData.aggView(LakeTable.readVersion(s, dir, 0L),
        Seq("c_mktsegment"), "c_acctbal")
      LakeTable.commitMerge(tableCommitChanges(s, d), dir, "c_custkey",
        targetRowsPerFile = 250)
      val feed = LakeTable.changesBetween(s, dir, 0L, 1L, "c_custkey")
      val delta = ChangeData.aggDelta(
        feed.select(col("c_mktsegment"), col("c_acctbal"),
          when(col("_op").isin("delete", "update_pre"), "delete")
            .otherwise("upsert").as("op")),
        Seq("c_mktsegment"), "c_acctbal")
      ChangeData.presentView(
          ChangeData.mergeViews(view0, delta, Seq("c_mktsegment")),
          Seq("c_mktsegment"))
        .orderBy("c_mktsegment")
    })(
      s"""$lakeMergeCtes
         |SELECT c_mktsegment, count(*) AS n,
         |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // incremental materialized-view maintenance: the per-priority
    // order-revenue view is refreshed from the CHANGE BATCH alone
    // (base view + signed delta aggregate, never re-scanning the
    // fact table) and must equal the full recompute, which is the
    // oracle. Base = orders with key%10!=0; the batch inserts the
    // %10==0 tranche and deletes every %7==0 order (retractions
    // spanning both base rows and same-batch inserts)
    Q("incremental_view", (s, d) => {
      val o = t(s, d).orders
      val keys = Seq("o_orderpriority")
      val base = ChangeData.aggView(
        o.where(col("o_orderkey") % 10 =!= 0), keys, "o_totalprice")
      val batch = o.where(col("o_orderkey") % 10 === 0)
        .select(col("o_orderpriority"), col("o_totalprice"), lit("upsert").as("op"))
        .unionByName(o.where(col("o_orderkey") % 7 === 0)
          .select(col("o_orderpriority"), col("o_totalprice"), lit("delete").as("op")))
      val merged = ChangeData.mergeViews(
        base, ChangeData.aggDelta(batch, keys, "o_totalprice"), keys)
      ChangeData.presentView(merged, keys).orderBy("o_orderpriority")
    })(
      // the incrementally-maintained view must equal the full recompute
      // over the post-change fact set (everything except %7==0 orders)
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // incremental JOIN-view maintenance: the orders⟕customer
    // enrichment view refreshed through a dim batch (segment rewrites
    // + dim deletes) THEN a fact batch (price upserts, deletes, new
    // orders) — fact source never re-scanned; dim deltas broadcast
    // against the view. Oracle = full LEFT JOIN over the
    // deltas-applied tables
    Q("incremental_join_view", (s, d) => {
      val tt = t(s, d)
      val fact = tt.orders.select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
        col("o_totalprice"))
      val dim = tt.customer.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val v0 = ChangeData.enrichView(fact, dim, "c_custkey")
      val dimDelta = dim.where(col("c_custkey").between(100, 150))
        .select(col("c_custkey"), lit("upsert").as("op"),
          lit("MOVED").as("c_mktsegment"), (col("c_acctbal") * 2).as("c_acctbal"))
        .unionByName(dim.where(col("c_custkey").between(151, 160))
          .select(col("c_custkey"), lit("delete").as("op"),
            lit(null).cast("string").as("c_mktsegment"),
            lit(null).cast("double").as("c_acctbal")))
      val v1 = ChangeData.enrichViewApplyDim(v0, dimDelta, "c_custkey")
      val dim1 = ChangeData.mergeApply(dim, dimDelta, "c_custkey")
      val factDelta = fact.where(col("o_orderkey") % 100 === 7)
        .select(col("o_orderkey"), lit("upsert").as("op"), col("c_custkey"),
          (col("o_totalprice") + 10.0).as("o_totalprice"))
        .unionByName(fact.where(col("o_orderkey") % 100 === 13)
          .select(col("o_orderkey"), lit("delete").as("op"), col("c_custkey"),
            col("o_totalprice")))
        .unionByName(fact.where(col("o_orderkey") % 1000 === 21)
          .select((col("o_orderkey") + 500000L).as("o_orderkey"), lit("upsert").as("op"),
            lit(42L).as("c_custkey"), lit(1.0).as("o_totalprice")))
      ChangeData.enrichViewApplyFact(v1, factDelta, dim1, "o_orderkey", "c_custkey")
        .orderBy("o_orderkey")
    })(
      // the incrementally-maintained enrichment view == a full LEFT JOIN
      // over the deltas-applied tables (deltas reproduced as CASE/filter
      // algebra on the base tables)
      """WITH dim1 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey BETWEEN 100 AND 150 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey BETWEEN 100 AND 150 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey NOT BETWEEN 151 AND 160),
        | fact1 AS (
        |  SELECT o_orderkey, o_custkey AS c_custkey,
        |    CASE WHEN o_orderkey % 100 = 7 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 <> 13
        |  UNION ALL
        |  SELECT o_orderkey + 500000, 42, 1.0 FROM orders WHERE o_orderkey % 1000 = 21)
        |SELECT f.o_orderkey, f.c_custkey, f.o_totalprice, d.c_mktsegment, d.c_acctbal
        |FROM fact1 f LEFT JOIN dim1 d ON f.c_custkey = d.c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    // SCD2 dimension history from the order log: per-customer status
    // runs with validity intervals — two key-partitioned windows
    Q("scd2_dimension", (s, d) =>
      ChangeData.scd2Intervals(t(s, d).orders,
          keyCol = "o_custkey", attrCol = "o_orderstatus",
          tsCol = "o_orderdate", tieCol = "o_orderkey")
        .orderBy("o_custkey", "version"))(
      // SCD2 run-collapse + validity intervals, the naive two-window
      // formulation
      scd2TwinSql),
    // INCREMENTAL SCD2: history built from pre-1997 orders, the 1997+
    // tranche folded in as an append batch — untouched keys and closed
    // intervals carry verbatim, only open segments recompute (seeded by
    // the current row, versions continuing). Oracle = the SAME full-log
    // recompute twin as scd2_dimension: incremental == full IS the hash
    Q("scd2_incremental", (s, d) => {
      val o = t(s, d).orders
      val cut = lit(java.sql.Date.valueOf("1997-01-01"))
      val hist = ChangeData.scd2Intervals(o.where(col("o_orderdate") < cut),
        keyCol = "o_custkey", attrCol = "o_orderstatus",
        tsCol = "o_orderdate", tieCol = "o_orderkey")
      ChangeData.scd2Apply(hist,
          o.where(col("o_orderdate") >= cut)
            .select(col("o_custkey"), col("o_orderstatus"),
              col("o_orderdate"), col("o_orderkey")),
          keyCol = "o_custkey", attrCol = "o_orderstatus",
          tsCol = "o_orderdate", tieCol = "o_orderkey")
        .orderBy("o_custkey", "version")
    })(
      // the SAME twin grades the incremental path: scd2Apply over the
      // date-split history+batch must equal the full recompute over the
      // whole log — incremental-exactness IS the hash match
      scd2TwinSql),
    // temporal AS-OF enrichment against the SCD2 dimension: each probe
    // joins the one status version valid at its date — an EQUI-key
    // hash join with the interval as residual (1:1 because intervals
    // partition the key's timeline); backdated probes (%97 band) keep
    // NULL, the LEFT-join warehouse convention
    Q("scd2_asof_join", (s, d) => {
      val dim = ChangeData.scd2Intervals(t(s, d).orders,
        keyCol = "o_custkey", attrCol = "o_orderstatus",
        tsCol = "o_orderdate", tieCol = "o_orderkey")
      val probes = t(s, d).orders.select(
        col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 97 === 0,
            col("o_orderdate") - expr("INTERVAL 20000 DAYS"))
          .otherwise(col("o_orderdate") + expr("INTERVAL 10 DAYS")).as("probe_date"))
      ChangeData.scd2AsOfJoin(probes, dim, "o_custkey", "probe_date")
        .select(col("o_orderkey"), col("o_custkey"), col("probe_date"),
          col("o_orderstatus").as("status_asof"))
        .orderBy("o_orderkey")
    })(
      s"""$scd2DimCtes,
         | probes AS (
         |   SELECT o_orderkey, o_custkey,
         |     CASE WHEN o_orderkey % 97 = 0 THEN o_orderdate - INTERVAL 20000 DAY
         |          ELSE o_orderdate + INTERVAL 10 DAY END AS probe_date
         |   FROM orders)
         |SELECT p.o_orderkey, p.o_custkey, p.probe_date,
         |       d.o_orderstatus AS status_asof
         |FROM probes p LEFT JOIN dim d ON p.o_custkey = d.o_custkey
         |  AND p.probe_date >= d.valid_from
         |  AND (d.valid_to IS NULL OR p.probe_date < d.valid_to)
         |ORDER BY o_orderkey""".stripMargin),
    // exact global row_number without a single-task sort: TeraSort
    // range exchange + per-partition rank + broadcast prefix offsets
    Q("global_rank", (s, d) =>
      TotalOrder.globalRank(
          t(s, d).lineitem.select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
          Seq(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber")))
        .orderBy("global_rank"))(
      // the TeraSort-shaped distributed rank == the naive global window
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  CAST(row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |       AS BIGINT) AS global_rank
        |FROM lineitem ORDER BY global_rank""".stripMargin))

  /** SCD2 dimension CTEs shared by the history, incremental, and as-of
    * twins: `dim` is the full-log recompute of the per-customer status
    * validity intervals. */
  private lazy val scd2DimCtes: String =
    """WITH ordered AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      | chg AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
      |         FROM ordered WHERE prev IS NULL OR o_orderstatus <> prev),
      | dim AS (
      |   SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
      |          lead(o_orderdate) OVER w AS valid_to,
      |          CAST(row_number() OVER w AS BIGINT) AS version,
      |          (lead(o_orderdate) OVER w) IS NULL AS is_current
      |   FROM chg
      |   WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))""".stripMargin

  private lazy val scd2TwinSql: String =
    s"""$scd2DimCtes
       |SELECT o_custkey, o_orderstatus, valid_from, valid_to, version, is_current
       |FROM dim ORDER BY o_custkey, version""".stripMargin

  /** The full-recompute merge CTEs shared by every LakeTable twin:
    * `merged` is the state after applying the CDC batch to the base
    * projection with MERGE semantics (NULL payload keeps base). */
  private lazy val lakeMergeCtes: String =
    """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      | chg AS (
      |   SELECT c_custkey,
      |     CASE WHEN c_custkey % 7 = 3 THEN 'delete' ELSE 'upsert' END AS op,
      |     CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE 'MOVED' END AS c_mktsegment,
      |     CAST(NULL AS DOUBLE) AS c_acctbal
      |   FROM customer WHERE c_custkey BETWEEN 300 AND 400
      |   UNION ALL
      |   SELECT c_custkey + 100000, 'upsert', 'NEW', 0.0
      |   FROM customer WHERE c_custkey % 50 = 0 AND c_custkey BETWEEN 300 AND 400),
      | merged AS (
      |   SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
      |          coalesce(c.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
      |          coalesce(c.c_acctbal, b.c_acctbal) AS c_acctbal
      |   FROM base b FULL OUTER JOIN chg c ON b.c_custkey = c.c_custkey
      |   WHERE c.op IS NULL OR c.op = 'upsert')""".stripMargin

  /** One merge twin serves both LakeTable queries: `table_commit`
    * (merge alone) and `table_compact` (merge + compaction) — the
    * compaction's reader-invisibility IS the second hash match. */
  private lazy val lakeMergeTwinSql: String =
    s"""$lakeMergeCtes
       |SELECT c_custkey, c_mktsegment, c_acctbal FROM merged
       |ORDER BY c_custkey""".stripMargin

  /** Change-feed twin: classify the FULL OUTER diff of the recomputed
    * before/after states — insert (new only), delete (old only), and
    * update pre+post images for keys whose payload IS DISTINCT. The
    * operator derives the same rows from the manifest diff alone;
    * hash-green proves the O(Δ)-files feed equals the full-state
    * diff. */
  private lazy val lakeChangeFeedTwinSql: String =
    s"""$lakeMergeCtes,
       | d AS (
       |   SELECT b.c_custkey AS ok, m.c_custkey AS nk,
       |          b.c_mktsegment AS om, b.c_acctbal AS oa,
       |          m.c_mktsegment AS nm, m.c_acctbal AS na
       |   FROM base b FULL OUTER JOIN merged m ON b.c_custkey = m.c_custkey
       |   WHERE b.c_custkey IS NULL OR m.c_custkey IS NULL
       |      OR b.c_mktsegment IS DISTINCT FROM m.c_mktsegment
       |      OR b.c_acctbal IS DISTINCT FROM m.c_acctbal)
       |SELECT nk AS c_custkey, nm AS c_mktsegment, na AS c_acctbal, 'insert' AS _op
       |FROM d WHERE ok IS NULL
       |UNION ALL
       |SELECT ok, om, oa, 'delete' FROM d WHERE nk IS NULL
       |UNION ALL
       |SELECT ok, om, oa, 'update_pre' FROM d WHERE ok IS NOT NULL AND nk IS NOT NULL
       |UNION ALL
       |SELECT nk, nm, na, 'update_post' FROM d WHERE ok IS NOT NULL AND nk IS NOT NULL
       |ORDER BY c_custkey, _op""".stripMargin

  /** The lake table fixture in a fresh temp dir `prefix*`: init over
    * [[tableCommitBase]] (8 files), then, when `merge`, the CDC batch
    * [[tableCommitChanges]] merged in. Returns the dir. */
  private def lake(s: SparkSession, d: String, prefix: String, merge: Boolean = true): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    LakeTable.init(tableCommitBase(s, d), dir, "c_custkey", nFiles = 8)
    if (merge) LakeTable.commitMerge(tableCommitChanges(s, d), dir, "c_custkey",
      targetRowsPerFile = 250)
    dir
  }
}
