package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** M1/M2 — MERGE semantics as Spark plans, plus the CSV backup sink M5
  * (SURVEY.md §2.9). These are the reference's plans, kept as the oracles
  * the M1/M2 queries and the streaming twins are graded against. The
  * sync service commits the same semantics to the warehouse through
  * [[LogTable]]: M1 is one [[LogTable.merge]] with a windowed
  * `deleteUnmatchedCond`, M2 and the M3/M4 truncate-and-loads
  * (WRITE_TRUNCATE) are [[LogTable.overwrite]] — one manifest commit
  * each, all-or-nothing like the reference's staging+MERGE
  * (docs/reference.md:193-197).
  */
object MergeOps {

  /** M1 — refresh-mode MERGE with windowed delete
    * (fetch_clickup_data.py:1273-1333).
    *
    * Semantics, with W = [today_oslo - days, today_oslo] (BETWEEN, inclusive):
    *   - source S = staging filtered to start_date_oslo ∈ W (:1280-1283);
    *   - matched (T.id = S.id)          → row replaced by S's version;
    *   - not matched (S only)           → inserted;
    *   - not matched by source AND
    *     T.start_date_oslo ∈ W          → deleted (:1318-1321 — the guard
    *     that protects history; dropping it reintroduces the production bug
    *     of BUG_FIX_SUMMARY.md:16-50);
    *   - everything else (T outside W, id not in S) → kept unchanged.
    *
    * Resulting plan: `S ∪ (T ⟕anti S on id).filter(date ∉ W)`.
    *
    * The clock is injected (`todayOslo`) — the reference's
    * CURRENT_DATE("Europe/Oslo") is untestable unparameterized.
    *
    * Scale: the anti-join's build side is the staging window (small —
    * days× daily volume) and broadcasts. The sync service commits the
    * same semantics as one [[LogTable.merge]] with `deleteUnmatchedCond
    * = refreshWindow(..)`, which rewrites only the files holding matched
    * or windowed rows.
    */
  def mergeRefresh(fact: DataFrame, staging: DataFrame, days: Int,
                   todayOslo: LocalDate,
                   dateCol: String = "start_date_oslo",
                   keyCol: String = "id"): DataFrame = {
    val inWindow = refreshWindow(col(dateCol), days, todayOslo)
    val stagingW = staging.filter(inWindow)
    val survivors = fact
      .join(broadcast(stagingW.select(col(keyCol))), Seq(keyCol), "left_anti")
      .filter(!coalesce(inWindow, lit(false)))
    survivors.unionByName(stagingW)
  }

  /** M1's window W = [today_oslo - days, today_oslo] on `c` (BETWEEN,
    * inclusive; NULL for a NULL `c`) — the one definition the batch
    * plan, the sync service's merge and the streaming refresh share.
    * A plain conjunction of two comparisons, so LogTable's zone maps
    * prune on it. */
  def refreshWindow(c: Column, days: Int, todayOslo: LocalDate): Column =
    c.between(lit(java.sql.Date.valueOf(todayOslo.minusDays(days.toLong))),
      lit(java.sql.Date.valueOf(todayOslo)))

  /** M2 — full-reindex MERGE (fetch_clickup_data.py:1335-1399): update
    * matched, insert not-matched (the explicit-column INSERT of the
    * BUG_FIX_SUMMARY.md:16-50 fix), delete not-matched-by-source. Net
    * semantics: fact becomes exactly the (deduplicated) staging set. Kept
    * MERGE-shaped for parity; physically Catalyst reduces the plan to a scan
    * of staging, which is the correct 100 TB plan (full overwrite, no join).
    */
  def mergeFullReindex(fact: DataFrame, staging: DataFrame,
                       keyCol: String = "id"): DataFrame = {
    val updatedOrKept = staging // matched→UPDATE all cols + not-matched→INSERT
    // not-matched-by-source→DELETE removes every remaining fact row:
    fact.join(staging.select(col(keyCol)), Seq(keyCol), "left_anti")
      .limit(0) // provably empty by MERGE algebra; kept for plan parity tests
      .unionByName(updatedOrKept)
  }

  /** M5 — CSV backup sink (df.to_csv, fetch_clickup_data.py:1779-1782 etc.).
    * Single file to mirror the reference's one-file backup; callers at
    * cluster scale drop the coalesce.
    *
    * With `stamp` set, the backup lands in `<path>/<stamp>/` — the
    * Spark-directory equivalent of the reference's timestamped filename
    * (`..._backup_%Y%m%d_%H%M%S.csv`, fetch_clickup_data.py:1780), so
    * history is RETAINED across runs instead of each run overwriting the
    * last. The stamp is injected (not clocked here) so runs are testable
    * and replayable.
    */
  def csvBackup(df: DataFrame, path: String, singleFile: Boolean = true,
                stamp: Option[String] = None): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    val dest = stamp.fold(path)(s => s"$path/$s")
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(dest)
  }

  /** SCD Type 2 apply: fold a batch of updates into a slowly-changing
    * dimension that tracks attribute history as (valid_from, valid_to,
    * is_current) versions.
    *
    * Semantics (the standard Kimball Type-2 merge):
    *   - update with CHANGED attributes for a current row → that row is
    *     closed (valid_to = effectiveDate, is_current = false) and a new
    *     current version is inserted (valid_from = effectiveDate);
    *   - update identical to the current attributes → no-op (no empty
    *     version chains);
    *   - update for an unseen key → new current row inserted;
    *   - historical (already-closed) rows pass through untouched.
    *
    * `updates` carries (keyCol, attrCols…) with AT MOST ONE row per key
    * (pre-aggregate multi-row batches with D1 keep-latest first — two
    * updates for one key in one batch would each close/reopen the same
    * current row and emit duplicate versions). Change detection compares
    * attrCols null-safely (<=>).
    *
    * NULL keys (ADVICE r6): a null key never equals anything under the
    * join, so a null-key current row is indistinguishable from an
    * unmatched update inside the full-outer result — it is pre-split here
    * and passed through UNCHANGED (like history), and null-key update
    * rows are dropped (they could only ever insert a null-key version
    * that no later update could match again).
    *
    * Scale: one full-outer hash join between the CURRENT slice and the
    * update batch (full-outer is what detects brand-new keys, and Spark
    * cannot broadcast a full-outer side — the current slice shuffles once
    * on the key). History rows stream through untouched: with the dim
    * partitioned on is_current, the closed majority is never even read.
    * No window, no full-dim shuffle.
    */
  def scd2Apply(dim: DataFrame, updates: DataFrame, keyCol: String,
                attrCols: Seq[String],
                effectiveDate: java.sql.Date): DataFrame = {
    val eff = lit(effectiveDate)
    // null-key current rows pass through with history (see scaladoc) —
    // without the pre-split they'd fall out of keptOrClosed and be
    // re-emitted by the inserted branch with every attribute nulled
    val history = dim.filter(!col("is_current") ||
      (col("is_current") && col(keyCol).isNull))
    val current = dim.filter(col("is_current") && col(keyCol).isNotNull)
    val upd = updates.filter(col(keyCol).isNotNull).select(
      col(keyCol).as("__k"),
      struct(attrCols.map(col): _*).as("__new"))
    val joined = current.join(upd, col(keyCol) === col("__k"), "full_outer")
    val changed = col("__k").isNotNull && col(keyCol).isNotNull &&
      !(struct(attrCols.map(col): _*) <=> col("__new"))
    // current rows: kept as-is (no update / identical update), or closed
    val keptOrClosed = joined.filter(col(keyCol).isNotNull)
      .select(col(keyCol) +: attrCols.map(col) :+
        col("valid_from") :+
        when(changed, eff).otherwise(col("valid_to")).as("valid_to") :+
        when(changed, lit(false)).otherwise(col("is_current"))
          .as("is_current"): _*)
    // inserted versions: changed keys + brand-new keys
    val inserted = joined.filter(changed || col(keyCol).isNull)
      .select(col("__k").as(keyCol) +:
        attrCols.map(a => col("__new")(a).as(a)) :+
        eff.as("valid_from") :+
        lit(null).cast("date").as("valid_to") :+
        lit(true).as("is_current"): _*)
    history.unionByName(keptOrClosed).unionByName(inserted)
  }

  /** Snapshot diff (CDC derivation): compare two versions of a table on a
    * key and emit one row per changed key with change_type ∈
    * {insert, delete, update} and the names of the columns that differ.
    * Unchanged keys produce no output. The inverse of MERGE: where M1/M2
    * apply a delta, this RECOVERS the delta between two snapshots — the
    * first step of incremental downstream refresh when the upstream only
    * publishes full dumps.
    *
    * Scale: one full outer hash join on the key (both sides shuffle once —
    * unavoidable for whole-snapshot comparison; with both snapshots
    * bucketed on the key via [[ScaleOps.writeBucketed]] even that exchange
    * disappears). Column comparison is map-side expression work;
    * unchanged rows are filtered before any further stage sees them.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    val b = before.select(col(keyCol).as("__bk") +:
      compareCols.map(c => col(c).as(s"__b_$c")): _*)
    val a = after.select(col(keyCol).as("__ak") +:
      compareCols.map(c => col(c).as(s"__a_$c")): _*)
    val j = b.join(a, col("__bk") === col("__ak"), "full_outer")
    val diffCols = array(compareCols.map(c =>
      when(!(col(s"__b_$c") <=> col(s"__a_$c")), lit(c))): _*)
    j.withColumn("change_type",
        when(col("__bk").isNull, lit("insert"))
          .when(col("__ak").isNull, lit("delete"))
          .otherwise(lit("update")))
      .withColumn("changed_cols",
        when(col("change_type") === "update",
          filter(diffCols, x => x.isNotNull)).otherwise(array()))
      .filter(col("change_type") =!= "update" || size(col("changed_cols")) > 0)
      .select(coalesce(col("__bk"), col("__ak")).as(keyCol),
        col("change_type"),
        array_join(col("changed_cols"), ",").as("changed_cols"))
  }

  /** Incremental maintenance of a grouped (COUNT, SUM) aggregate from two
    * fact snapshots — the materialized-view refresh that does NOT rescan
    * the fact: diff `before`→`after` on the row key, turn each change
    * into signed contributions (−1/−cents for the vanished state, +1/
    * +cents for the new one — an update that moves a row across groups
    * naturally splits into one of each), aggregate the deltas, and apply
    * them to `prevAgg` with one group-sized full-outer join. Groups whose
    * maintained count reaches 0 are dropped, matching what a recompute
    * over `after` would produce.
    *
    * `prevAgg` must be the (groupCol, n, sum_cents) aggregate of
    * `before` (e.g. the previous cycle's output of this operator —
    * self-composing across cycles).
    *
    * Scale shape: the only fact-scale exchange is the snapshot diff's
    * key join (with both snapshots bucketed on the key via
    * [[ScaleOps.writeBucketed]] even that exchange disappears — same
    * argument as [[snapshotDiff]]); unchanged rows are filtered before
    * any aggregation, so the delta aggregate is sized by the CHANGED
    * rows, and the final join by the group count. A recompute touches
    * |after| rows every cycle; this touches |changes|.
    *
    * Determinism: value is fixed-point cents (BIGINT) end to end — no
    * float ever exists, so maintained ≡ recomputed bitwise.
    */
  def maintainGroupedAgg(prevAgg: DataFrame, before: DataFrame,
                         after: DataFrame, keyCol: String, groupCol: String,
                         valueCol: String): DataFrame = {
    def cents(side: String) =
      floor(col(s"__${side}_v") * 100).cast("long").as(s"__${side}_c")
    val b = before.select(col(keyCol).as("__bk"),
      col(groupCol).as("__b_g"), col(valueCol).as("__b_v"))
    val a = after.select(col(keyCol).as("__ak"),
      col(groupCol).as("__a_g"), col(valueCol).as("__a_v"))
    val changed = b.join(a, col("__bk") === col("__ak"), "full_outer")
      .filter(col("__bk").isNull || col("__ak").isNull ||
        !(col("__b_g") <=> col("__a_g")) || !(col("__b_v") <=> col("__a_v")))
      .select(col("__b_g"), cents("b"), col("__a_g"), cents("a"),
        col("__bk"), col("__ak"))
    val minus = changed.filter(col("__bk").isNotNull)
      .select(col("__b_g").as(groupCol), lit(-1L).as("__dn"),
        (-coalesce(col("__b_c"), lit(0L))).as("__ds"))
    val plus = changed.filter(col("__ak").isNotNull)
      .select(col("__a_g").as(groupCol), lit(1L).as("__dn"),
        coalesce(col("__a_c"), lit(0L)).as("__ds"))
    val delta = minus.union(plus).groupBy(col(groupCol))
      .agg(sum(col("__dn")).as("__dn"), sum(col("__ds")).as("__ds"))
    // Null-safe (<=>) join: a NULL group key is ONE group in SQL GROUP BY,
    // so prev and delta null-group rows must pair, not pass each other.
    val prev = prevAgg.select(col(groupCol).as("__pg"),
      col("n").as("__pn"), col("sum_cents").as("__ps"))
    prev.join(delta.withColumnRenamed(groupCol, "__dg"),
        col("__pg") <=> col("__dg"), "full_outer")
      .select(
        (when(col("__pn").isNotNull, col("__pg"))
          .otherwise(col("__dg"))).as(groupCol),
        (coalesce(col("__pn"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
          .as("n"),
        (coalesce(col("__ps"), lit(0L)) + coalesce(col("__ds"), lit(0L)))
          .as("sum_cents"))
      .filter(col("n") > 0)
  }

  /** Small-file compaction planner — the "small files problem" is the
    * perennial table-maintenance task at 100 TB (every streaming sink and
    * per-partition overwrite leaves sub-block files that wreck scan
    * parallelism and NameNode/manifest size). Given a slice manifest
    * (partition key, slice id, bytes), the planner:
    *  - leaves slices ≥ `smallThreshold` alone (`action = 'keep'`,
    *    task_id NULL) — rewriting already-healthy files is wasted I/O;
    *  - groups each partition's smaller slices into rewrite tasks of
    *    ~`targetBytes` (size-descending first-fit via running prefix sum:
    *    a slice joins the task its prefix lands in, so tasks are
    *    contiguous in the size order and a task may overshoot the target
    *    by at most one slice — the standard bin-pack relaxation that
    *    stays a pure window expression, no sequential fold).
    * Tasks never span partitions (a rewrite must stay within its
    * partition directory to preserve pruning).
    *
    * Scale shape: one window per partition key, state bounded by
    * files-per-partition (metadata-scale); the manifest itself is
    * metadata, never the data files. Deterministic: ordering is
    * (bytes DESC, id) — a total order.
    *
    * Output: (partCol, idCol, bytesCol, action, task_id).
    */
  def compactionPlan(slices: DataFrame, partCol: String, idCol: String,
                     bytesCol: String, targetBytes: Long,
                     smallThreshold: Long): DataFrame = {
    require(targetBytes >= smallThreshold && smallThreshold >= 1,
      s"need targetBytes >= smallThreshold >= 1 (got $targetBytes, $smallThreshold)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol))
      .orderBy(col(bytesCol).desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val small = slices.filter(col(bytesCol) < smallThreshold)
      .withColumn("__cum", sum(col(bytesCol)).over(w))
      .select(col(partCol), col(idCol), col(bytesCol),
        lit("rewrite").as("action"),
        floor((col("__cum") - col(bytesCol)) / targetBytes).cast("long")
          .as("task_id"))
    val kept = slices.filter(col(bytesCol) >= smallThreshold)
      .select(col(partCol), col(idCol), col(bytesCol),
        lit("keep").as("action"), lit(null).cast("long").as("task_id"))
    small.unionByName(kept)
  }
}
