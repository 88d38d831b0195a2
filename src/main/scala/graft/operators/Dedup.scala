package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D1 — keep-latest-per-key deduplication (SURVEY.md §2.6).
  *
  * Reference: `sort_values('at', na_position='last')` (ascending, nulls
  * LAST) then `drop_duplicates(keep='last')` (fetch_clickup_data.py:1776)
  * — so within an id the kept row is the max-`at` row, EXCEPT that a
  * null-`at` row sorts after every timestamp and therefore wins. The
  * pandas tie-break is stable-sort order; we replace it with a
  * deterministic total order (max tie-break column) per SURVEY.md §7.
  * `nullsWin` selects the reference-faithful null preference
  * ([[dedupTimeEntries]]) vs the conventional nulls-lose ordering.
  *
  * Scale: one hash shuffle on the key; the window + row_number is executed
  * as a single sort within each partition. For a 100 TB fact keyed by a
  * high-cardinality id this is the minimal-shuffle plan (no join, no
  * distinct). AQE handles skewed keys.
  */
object Dedup {

  def latestByKey(df: DataFrame, key: Seq[String], orderCol: String,
                  tieBreak: String, nullsWin: Boolean = false): DataFrame = {
    val primary =
      if (nullsWin) col(orderCol).desc_nulls_first
      else col(orderCol).desc_nulls_last
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(primary, col(tieBreak).desc_nulls_last)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The reference's exact use: dedup staged time entries on `id`; the
    * null-`at`-wins preference mirrors pandas' na_position='last' +
    * keep='last' (tie-break on start_utc — `id` is the key).
    */
  def dedupTimeEntries(df: DataFrame): DataFrame =
    latestByKey(df, Seq("id"), "at", "start_utc", nullsWin = true)
}
