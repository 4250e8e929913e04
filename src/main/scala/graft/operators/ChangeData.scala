package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change-data operators: the table-maintenance half of a corpus /
  * warehouse build that the reference (a single hard-coded scan→agg,
  * map_reduce.cpp:452-616) has no analog for, but that any pipeline
  * refreshing a 100 TB dataset needs — applying a CDC batch to a base
  * table and deriving slowly-changing-dimension history from event
  * streams.
  *
  * Both operators are single-shuffle joins/windows on the natural key:
  * they partition by key (never globally), so they scale with the
  * cluster; the change batch in a merge is typically orders of
  * magnitude smaller than the base and broadcasts.
  */
object ChangeData {

  /** Apply a CDC change batch to a base table — MERGE semantics on a
    * copy-on-write table without a table format: one full-outer
    * sort-merge join on the key (the standard CoW merge shape; Spark
    * broadcasts instead when the batch is small enough).
    *
    * `changes` carries the key, an `op` column (`upsert` | `delete`)
    * and payload columns; a NULL payload column in an upsert keeps the
    * base value (partial-update semantics, like
    * `MERGE … UPDATE SET c = coalesce(src.c, tgt.c)`).
    *   - upsert + match    → update (column-wise coalesce)
    *   - upsert + no match → insert
    *   - delete + match    → drop the row
    *   - base-only         → carried through unchanged
    *
    * ADDITIVE SCHEMA EVOLUTION: the output payload is the UNION of
    * both sides' columns (base order first, batch-new columns
    * appended). A column only the batch carries reads as NULL on base
    * rows the batch never touched; a column only the base carries
    * keeps its base value on every surviving row — exactly Delta's
    * `mergeSchema` posture, as plain column algebra.
    *
    * Keys must be unique on both sides (a CDC batch is deduped to its
    * latest image per key upstream — see Dedup / EventStreams.dedupEvents).
    */
  def mergeApply(base: DataFrame, changes: DataFrame, keyCol: String,
                 opCol: String = "op"): DataFrame = {
    val basePayload = base.columns.filterNot(_ == keyCol).toSeq
    val chgPayload = changes.columns.filterNot(c => c == keyCol || c == opCol).toSeq
    val payload = basePayload ++ chgPayload.filterNot(basePayload.contains)
    val b = base.select(col(keyCol) +: payload.map { c =>
      (if (basePayload.contains(c)) col(c)
       else lit(null).cast(changes.schema(c).dataType)).as(s"__b_$c")
    }: _*)
    val c = changes.select(col(keyCol) +: col(opCol).as("__op") +: payload.map { p =>
      (if (chgPayload.contains(p)) col(p)
       else lit(null).cast(base.schema(p).dataType)).as(s"__c_$p")
    }: _*)
    b.join(c, Seq(keyCol), "full_outer")
      .where(col("__op").isNull || col("__op") === "upsert")
      .select(col(keyCol) +: payload.map(p =>
        coalesce(col(s"__c_$p"), col(s"__b_$p")).as(p)): _*)
  }

  /** The LATEST IMAGE of each key: its row with the greatest
    * `orderedPayload` tuple (compared in that column order), output as
    * the key plus those columns — last-writer-wins as an argmax via
    * max(struct(...)), NOT a blind overwrite, so an older image
    * arriving later loses to a newer one, and a redelivered duplicate
    * ties with itself (at-least-once input needs no separate dedup).
    * One map-side-combined aggregate, shuffled on the key only. */
  def latestImage(df: DataFrame, keyCol: String, orderedPayload: Seq[String]): DataFrame =
    df.groupBy(col(keyCol))
      .agg(max(struct(orderedPayload.map(col): _*)).as("__m"))
      .select(col(keyCol) +: orderedPayload.map(c => col(s"__m.$c").as(c)): _*)

  /** Incremental materialized-view maintenance for additive aggregates
    * (count + sum): the view is refreshed by aggregating ONLY the
    * change batch and merging it into the stored aggregate — the fact
    * table is never re-scanned. This is the standard IVM construction
    * for abelian-group aggregates: inserts contribute +1/+x, deletes
    * retract −1/−x, and partial aggregates merge by addition, so
    * refresh cost tracks |delta|, not |fact| — at 100 TB the
    * difference between a view you can afford and one you cannot.
    * (MIN/MAX are deliberately absent: they are not retractable
    * without per-group auxiliary state.)
    *
    * Exactness: the running sum is held as an exact DECIMAL inside the
    * view state and widened to double only at presentation — merging
    * previously-rounded doubles would drift away from a full
    * recompute, which is precisely the equivalence the oracle checks.
    *
    * View state schema: (keys..., n BIGINT, sum_dec DECIMAL(38,2)).
    *  - aggView: full build from a fact table (bootstrap / backfill)
    *  - aggDelta: the same shape from a change batch (op: upsert|delete)
    *  - mergeViews: state ⊎ state by key addition, empty groups vanish
    *  - presentView: user-facing (keys..., n, sum_value DOUBLE)
    */
  def aggView(fact: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    fact.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_dec"))

  def aggDelta(changes: DataFrame, keys: Seq[String], valueCol: String,
               opCol: String = "op"): DataFrame =
    changes
      .withColumn("__sign", when(col(opCol) === "delete", lit(-1)).otherwise(lit(1)))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__sign")).cast(LongType).as("n"),
        sum(col(valueCol).cast(DecimalType(18, 2)) * col("__sign"))
          .cast(DecimalType(38, 2)).as("sum_dec"))

  def mergeViews(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).cast(LongType).as("n"),
        sum(col("sum_dec")).cast(DecimalType(38, 2)).as("sum_dec"))
      .where(col("n") > 0)

  def presentView(view: DataFrame, keys: Seq[String]): DataFrame =
    view.select(keys.map(col) :+ col("n") :+
      col("sum_dec").cast(DoubleType).as("sum_value"): _*)

  /** Incremental maintenance for a JOIN view — the enrichment wide
    * table V = fact LEFT JOIN dim ON joinKey, kept fresh under change
    * batches on EITHER side without ever re-scanning the fact table.
    * LEFT OUTER (fact-preserving) is what makes the view closed under
    * maintenance: every fact row is present (dim payload NULL when
    * unmatched), so a dim insert upgrades rows already in the view and
    * a dim delete downgrades them — neither needs the fact source.
    * This is the standard delta-join construction (ΔV from Δfact ⋈ dim
    * and V ⋈ Δdim), specialized to many-to-one enrichment:
    *  - [[enrichView]]: bootstrap build (one join);
    *  - [[enrichViewApplyDim]]: Δdim is typically tiny → broadcast
    *    against the view; upserts REPLACE the dim payload wholesale
    *    (a CDC dim image is a full row), deletes null it;
    *  - [[enrichViewApplyFact]]: stale/deleted fact rows leave by
    *    anti join on the fact pk; upserted rows re-enrich against the
    *    CURRENT dim (post-Δ) and append.
    * Refresh cost tracks |Δ| (+ one view-sized pass), never |fact
    * source|. Keys must be unique per side, as in [[mergeApply]]. */
  def enrichView(fact: DataFrame, dim: DataFrame, joinKey: String): DataFrame =
    fact.join(dim, Seq(joinKey), "left")

  def enrichViewApplyDim(view: DataFrame, dimChanges: DataFrame, joinKey: String,
                         opCol: String = "op"): DataFrame = {
    val payload = dimChanges.columns.filterNot(c => c == joinKey || c == opCol).toSeq
    val ch = dimChanges.select(col(joinKey) +: col(opCol).as("__op") +:
      payload.map(c => col(c).as(s"__d_$c")): _*)
    view.join(broadcast(ch), Seq(joinKey), "left")
      .select(col(joinKey) +: view.columns.filterNot(_ == joinKey).toSeq.map { c =>
        if (payload.contains(c))
          // dim upsert replaces the payload; dim delete reverts the row
          // to its unmatched (NULL) left-join form; untouched keys keep
          // their current enrichment
          when(col("__op") === "upsert", col(s"__d_$c"))
            .when(col("__op") === "delete", lit(null).cast(view.schema(c).dataType))
            .otherwise(col(c)).as(c)
        else col(c).as(c)
      }: _*)
  }

  def enrichViewApplyFact(view: DataFrame, factChanges: DataFrame, dimCurrent: DataFrame,
                          factKey: String, joinKey: String,
                          opCol: String = "op"): DataFrame = {
    val survivors = view.join(factChanges.select(col(factKey)), Seq(factKey), "left_anti")
    val inserts = factChanges.where(col(opCol) === "upsert").drop(opCol)
      .join(dimCurrent, Seq(joinKey), "left")
    survivors.unionByName(inserts.select(view.columns.map(col): _*))
  }

  /** Slowly-changing-dimension (type 2) history from a change log:
    * collapse consecutive equal attribute values per key, then emit
    * one validity interval per run — (key, attr, valid_from,
    * valid_to, version, is_current), the standard dimension-table
    * shape for as-of enrichment (see Windows.lastClickBeforePurchase
    * for the lookup side).
    *
    * Two windows, both partitioned BY KEY — parallelism is key
    * cardinality, no stratum-wide or global sort anywhere. `tieCol`
    * makes the per-key order total so re-runs emit identical history.
    * The attribute is assumed non-null (a null-state change should be
    * modeled as an explicit sentinel row, not NULL). */
  def scd2Intervals(log: DataFrame, keyCol: String, attrCol: String,
                    tsCol: String, tieCol: String): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val changePoints = log
      .select(col(keyCol), col(attrCol), col(tsCol), col(tieCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(byKey))
      .where(col("__prev").isNull || col(attrCol) =!= col("__prev"))
    val byKeyFrom = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    changePoints
      .withColumn("valid_to", lead(col(tsCol), 1).over(byKeyFrom))
      .withColumn("version", row_number().over(byKeyFrom).cast(LongType))
      .select(col(keyCol), col(attrCol),
        col(tsCol).as("valid_from"), col("valid_to"), col("version"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Temporal (as-of) enrichment against an SCD2 dimension: each fact
    * row joins the ONE dimension version whose validity interval holds
    * its timestamp — `valid_from <= ts < valid_to`, open interval
    * NULL-terminated. The join keeps its EQUI key (the dimension key),
    * so Catalyst plans a plain hash/sort-merge join with the interval
    * as a residual — never a range/theta join: per (key, ts) the
    * intervals partition `[first_from, ∞)`, so the residual selects
    * exactly one build row and the join is 1:1 by construction
    * (zero-length intervals from same-timestamp change points match
    * nothing, the successor interval matches instead). LEFT join:
    * facts dated before the key's first version — or with no dimension
    * key at all — keep NULL attributes, the warehouse convention. */
  def scd2AsOfJoin(fact: DataFrame, dim: DataFrame, keyCol: String,
                   tsCol: String): DataFrame = {
    val d = dim.drop("version", "is_current")
    fact.join(d,
      fact(keyCol) === d(keyCol) &&
        fact(tsCol) >= d("valid_from") &&
        (d("valid_to").isNull || fact(tsCol) < d("valid_to")),
      "left")
      .drop(d(keyCol)).drop("valid_from", "valid_to")
  }

  /** INCREMENTAL SCD2 maintenance: fold an append-only change batch
    * into an existing [[scd2Intervals]] history without re-reading the
    * log. Closed intervals of touched keys and the whole history of
    * untouched keys carry VERBATIM; only each touched key's OPEN
    * segment recomputes — seeded by its current row (so a batch run
    * continuing the current attribute collapses into it, closing
    * nothing), with version numbers continuing from the seed. Keys new
    * to the table build from the batch alone. At 100 TB the work is
    * batch-keys-sized: two key joins against the history plus
    * key-partitioned windows over seed ∪ batch — the log, which this
    * maintains a view OF, appears nowhere.
    *
    * Contract: batch rows must order strictly AFTER every logged row
    * of their key (ts beyond the key's log horizon — the append-only
    * CDC posture). A batch backdated INTO a closed interval would need
    * closed history rewritten, which is a restatement, not an append:
    * run [[scd2Intervals]] over the corrected log instead. */
  def scd2Apply(history: DataFrame, batch: DataFrame, keyCol: String, attrCol: String,
                tsCol: String, tieCol: String): DataFrame = {
    val keys = batch.select(col(keyCol)).distinct()
    val untouched = history.join(keys, Seq(keyCol), "left_anti")
    val touched = history.join(keys, Seq(keyCol), "left_semi")
    val closed = touched.where(!col("is_current"))
    val seed = touched.where(col("is_current"))
    // the seed re-enters the change-point scan as its key's first row:
    // ts = the open interval's start, tie below any real tie so equal
    // timestamps (impossible under the contract, cheap to pin) keep it
    // first
    val tieType = batch.schema(tieCol).dataType
    val seedLog = seed.select(col(keyCol), col(attrCol),
      col("valid_from").as(tsCol), lit(-1L).cast(tieType).as(tieCol))
    val tail = scd2Intervals(
      seedLog.unionByName(batch.select(col(keyCol), col(attrCol), col(tsCol), col(tieCol))),
      keyCol, attrCol, tsCol, tieCol)
    // versions continue where the seed's stood (new keys offset 0)
    val offsets = seed.select(col(keyCol), (col("version") - 1L).as("__off"))
    val adjusted = tail.join(offsets, Seq(keyCol), "left")
      .withColumn("version", col("version") + coalesce(col("__off"), lit(0L)))
      .drop("__off")
    untouched.unionByName(closed).unionByName(adjusted)
  }
}
