package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** As-of join: for each left row, the most recent right row of the
  * same key with right_time <= left_time.
  *
  * Spark has no native as-of join; rather than a custom SparkPlan,
  * this composes built-ins (the preferred extension tier): tag both
  * sides, union them, and take a running last_value over a single
  * (key, time)-sorted window. Cost = one hash shuffle on the key —
  * the same price as the sort-merge join a native operator would do,
  * with AQE/skew handling for free. Right rows sort before left rows
  * at equal timestamps, so "<=" semantics hold exactly.
  */
object AsOfJoin {

  /** @param valueCol right-side column carried to the left rows (the
    *                 as-of value; null when no right row precedes).
    *                 The value rides inside a (never-null-for-right-
    *                 rows) struct so a matched right row whose value
    *                 is genuinely NULL still wins over an older
    *                 non-null row — last(ignoreNulls) skips only
    *                 "no right row", not "right row with null value".
    *                 At exactly equal (key, time) the greatest value
    *                 wins — a documented total tiebreak (DuckDB ASOF
    *                 picks an unspecified matched row; ours is the
    *                 deterministic choice of the same candidate set).
    */
  def lastBefore(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      valueCol: String
  ): DataFrame =
    leftRows(
      tagged(left, right, keyCol, leftTimeCol, rightTimeCol, "v" -> valueCol)
        .withColumn("__asof", runningLast(forward = false)),
      left, keyCol,
      col("__asof").getField("v").as(s"asof_$valueCol"))

  /** B71: NEAREST as-of join — the closest right row of the same key
    * in EITHER direction, within `tolerance` (kdb `aj` is backward,
    * QuestDB/Polars offer `nearest`: match a reading to the closest
    * sensor tick, not just the latest). Ties (equal distance both
    * ways) take the BACKWARD row — the deterministic choice.
    *
    * Same union+running-last shape as [[lastWithin]], run in BOTH
    * time directions as two windows over the SAME key partitioning
    * (one hash exchange, two sorts — Catalyst reuses the shuffle):
    * the backward window carries the latest right row at/before each
    * left row, the forward window (time-descending order) the
    * earliest at/after. Both candidates carry their time in the
    * struct, so the nearest/tolerance decision is an exact per-row
    * projection after the windows. Returns the left rows plus
    * `asof_<valueCol>` and the signed offset `asof_dt` (≤0 backward,
    * ≥0 forward; NULL when nothing is in range).
    */
  def nearestWithin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      valueCol: String,
      tolerance: Long
  ): DataFrame = {
    require(tolerance >= 0, s"tolerance must be >= 0, got $tolerance")
    val db = col("__t") - col("__b").getField("t")
    val df_ = col("__f").getField("t") - col("__t")
    val bOk = col("__b").isNotNull && db <= tolerance
    val fOk = col("__f").isNotNull && df_ <= tolerance
    val useB = bOk && (!fOk || db <= df_)
    leftRows(
      tagged(left, right, keyCol, leftTimeCol, rightTimeCol, "t" -> rightTimeCol, "v" -> valueCol)
        .withColumn("__b", runningLast(forward = false))
        .withColumn("__f", runningLast(forward = true)),
      left, keyCol,
      when(useB, col("__b").getField("v")).when(fOk, col("__f").getField("v")).as(s"asof_$valueCol"),
      when(useB, -db).when(fOk, df_).as("asof_dt"))
  }

  /** B61: BOUNDED as-of join — most recent right row of the same key
    * with left_time − tolerance ≤ right_time ≤ left_time (the kdb
    * `wj`/QuestDB `ASOF ... TOLERANCE` semantics: a quote matched to
    * a trade only counts if it's fresh). Same union+running-last plan
    * as [[lastBefore]] — one keyed shuffle, no join operator — with
    * the right TIME carried inside the struct so staleness is decided
    * per left row AFTER the window: the latest preceding right row
    * either is within bound or no within-bound row exists (anything
    * else is older still), so the post-filter is exact, not a
    * heuristic. Time columns must be numeric (e.g. `unix_micros`);
    * `tolerance` is in the same unit.
    */
  def lastWithin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      valueCol: String,
      tolerance: Long
  ): DataFrame = {
    require(tolerance >= 0, s"tolerance must be >= 0, got $tolerance")
    leftRows(
      tagged(left, right, keyCol, leftTimeCol, rightTimeCol, "t" -> rightTimeCol, "v" -> valueCol)
        .withColumn("__asof", runningLast(forward = false)),
      left, keyCol,
      when(col("__t") - col("__asof").getField("t") <= tolerance,
        col("__asof").getField("v")).as(s"asof_$valueCol"))
  }

  /** Both sides on one schema: the key as `__k`, the time as `__t`,
    * `__side` 1 for left rows and 0 for right rows (so right rows sort
    * first at equal time), and `__rv`, a struct of the named right
    * columns (`field -> column`), typed NULL on left rows.
    */
  private def tagged(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      rv: (String, String)*
  ): DataFrame = {
    val rvType = StructType(rv.map { case (f, c) => StructField(f, right.schema(c).dataType) })
    val l = left
      .withColumn("__t", col(leftTimeCol))
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(rvType))
      .withColumnRenamed(keyCol, "__k")
    val r = right.select(
      col(keyCol).as("__k"),
      col(rightTimeCol).as("__t"),
      lit(0).as("__side"),
      struct(rv.map { case (f, c) => col(c).as(f) }: _*).as("__rv"))
    l.select((Seq(col("__k"), col("__t"), col("__side"), col("__rv")) ++
      left.columns.filterNot(_ == keyCol).map(col)): _*
    ).unionByName(r, allowMissingColumns = true)
  }

  /** The latest right row's `__rv` at or before each row of its key
    * (`forward`: at or after, time descending); right rows sort before
    * left rows at equal time in both directions.
    */
  private def runningLast(forward: Boolean): Column = {
    val t = if (forward) col("__t").desc else col("__t")
    last(col("__rv"), ignoreNulls = true).over(Window.partitionBy(col("__k"))
      .orderBy(t, col("__side"), col("__rv"))
      .rowsBetween(Window.unboundedPreceding, 0))
  }

  /** The left rows in their own column order, the key restored, plus `out`. */
  private def leftRows(tagged: DataFrame, left: DataFrame, keyCol: String, out: Column*): DataFrame =
    tagged.filter(col("__side") === 1).select(
      (col("__k").as(keyCol) +: left.columns.filterNot(_ == keyCol).map(col).toSeq) ++ out: _*)
}
