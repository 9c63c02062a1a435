package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.functions.{Calendar, Funcs}
import graft.functions.Funcs.safeDiv

/** The wide feature-store composition: the reference's
  * `run_full_pipeline` materializes ~300 columns from four feature
  * engines then selects top-K (reference:
  * src/features/feature_pipeline.py:80-186,423-468). Here the four
  * families are composed so the expensive ones share ONE series
  * exchange:
  *
  *   - temporal (EWMA/lags/deltas/pct-changes/rolling stats/momentum/
  *     slope/autocorr/accel) — window functions over ONE (keys, week)
  *     window; EWMA is the native `EwmaExpr` running window aggregate,
  *     so it co-plans with the other (keys, week) columns;
  *   - behavioral (recency, activity, lifecycle age, percent-rank) —
  *     windows over the SAME partitioning (different sort orders resort
  *     in place, no new shuffle);
  *   - calendar/business (date parts, flags, cyclical encodings,
  *     seasons) — pure per-row projections, no shuffle;
  *   - aggregation (per-key stats, intermittency, share-of-key) —
  *     unbounded group frames over the SAME partitioning: no groupBy,
  *     no join-back, no broadcast of a series-dim agg (which grows
  *     with the data and would OOM a broadcast at 100 TB).
  *
  * Over a weekly frame built by a groupBy the plan has two exchanges:
  * the weekly groupBy and the one series exchange. PlanSpec pins that
  * budget and the Window/Sort counts below.
  *
  * '''Dependency-level build.''' [[wide]] adds its ~110 columns with one
  * projection per dependency level (a column is in the first level
  * after every column it reads), then one `select` that restores the
  * published column order. A `withColumn` per column re-ran analysis
  * over an ever-growing plan and planned 13 Window operators and 3
  * sorts; the levels plan 6 Window operators and 2 sorts.
  *
  * '''Accumulation order.''' A whole-group float aggregate (`sum`, `avg`,
  * `stddev` over `partitionBy(keys)` with no order) folds its rows in
  * whatever order the sort below it left them, and the last ulp depends
  * on that order. Within one projection Spark stacks the Window
  * operators in the order their specs first appear, so each level
  * lists its (keys, week) columns first:
  *   - `stability` and `key_*` fold in week order (the level's group
  *     Window sits on the (keys, week) sort);
  *   - `zscore_in_key`/`minmax_in_key` fold in (qty, week) order (their
  *     group Window sits on `pct_rank_in_key`'s sort).
  * Both orders are the ones the `withColumn` chain used, so every
  * column is bit-identical to it (FeatureStoreParitySpec).
  */
object FeatureStore {

  /** Build the wide frame over a weekly series grain.
    *
    * @param weekly one row per (keys..., weekCol) with qtyCol measure
    * @param lagSet  lag depths (weeks)
    * @param rollSet rolling window lengths (weeks)
    */
  def wide(weekly: DataFrame, keys: Seq[String], weekCol: String, qtyCol: String,
           lagSet: Seq[Int] = Seq(1, 2, 3, 4, 6, 8, 12),
           rollSet: Seq[Int] = Seq(2, 3, 4, 6, 8, 12),
           withEwma: Boolean = true): DataFrame = {
    val sw = SeriesWindow(keys.map(col), Seq(col(weekCol)))
    val qty = col(qtyCol)
    val week = col(weekCol)
    val (lags, rolls) = (lagSet.distinct, rollSet.distinct)

    // ---- level 1: the (keys, week) window columns over the input ----
    val temporal =
      (if (withEwma) Seq("ewma_03" -> graft.expr.EwmaExpr.over(qty, 0.3, keys.map(col), Seq(week)))
       else Nil) ++
      WindowFeatures.lags(qty, lags, sw) ++
      lags.flatMap(k => Seq(
        s"delta_$k" -> WindowFeatures.lagDelta(qty, k, sw),
        s"pct_change_$k" -> WindowFeatures.lagPctChange(qty, k, sw))) ++
      rolls.flatMap(n => Seq(
        s"roll${n}_mean" -> WindowFeatures.rollingAvg(qty, n, sw),
        s"roll${n}_std" -> WindowFeatures.rollingStd(qty, n, sw),
        s"roll${n}_min" -> WindowFeatures.rollingMin(qty, n, sw),
        s"roll${n}_max" -> WindowFeatures.rollingMax(qty, n, sw),
        s"roll${n}_sum" -> WindowFeatures.rollingSum(qty, n, sw),
        s"roll${n}_cv" -> WindowFeatures.rollingCv(qty, n, sw))) ++
      Seq("momentum_1" -> WindowFeatures.momentum(qty, 1, sw),
        "momentum_4" -> WindowFeatures.momentum(qty, 4, sw))
    // helpers for the slope/autocorr frames (a window cannot nest in
    // another window's arguments)
    val helpers = Seq("__x" -> WindowFeatures.rowPosition(sw),
      "__lag1" -> lag(qty, 1).over(sw.w))
    // ---- aggregation family: unbounded group frames over the SAME
    // series partitioning — zero extra exchange, and no join against a
    // series-dim agg (which would be broadcast-unsafe at 100 TB: the
    // series dimension grows with the data). Listed after the (keys,
    // week) columns so they fold in week order. ----
    val stability = Seq("stability" -> WindowFeatures.groupStability(qty, sw))
    val keyStats = Seq(
      "key_sum" -> sum(qty).over(sw.group),
      "key_mean" -> avg(qty).over(sw.group),
      "key_std" -> Funcs.nanToNull(stddev(qty).over(sw.group)),
      "key_min" -> min(qty).over(sw.group),
      "key_max" -> max(qty).over(sw.group),
      "key_n_weeks" -> count(lit(1)).over(sw.group),
      "key_nonzero_ratio" -> avg(when(qty > 0, 1.0).otherwise(0.0)).over(sw.group))

    // ---- level 2: the frames over the helpers ----
    val slopes = Seq(
      "slope_8" -> WindowFeatures.rollingSlope(qty, col("__x"), 8, sw),
      "autocorr_8" -> WindowFeatures.rollingAutocorr1(qty, col("__lag1"), 8, sw))

    // ---- level 3: (keys, week) columns, then the behavioral family's
    // (qty, week) sort and the group frames that fold in its order ----
    val byQty = Window.partitionBy(keys.map(col): _*).orderBy(qty, week)
    val accel = Seq("accel_8" -> (col("slope_8") - lag(col("slope_8"), 1).over(sw.w)))
    val recency = Seq(
      "weeks_since_nonzero" -> (datediff(week,
        last(when(qty > 0, week), ignoreNulls = true)
          .over(sw.w.rowsBetween(Window.unboundedPreceding, -1))) / 7).cast("long"),
      "nonzero_last_4" -> sum(when(qty > 0, 1L).otherwise(0L)).over(sw.rows(-3, 0)))
    val inKey = Seq(
      "pct_rank_in_key" -> percent_rank().over(byQty),
      "zscore_in_key" -> safeDiv(qty - avg(qty).over(sw.group),
        Funcs.nanToNull(stddev(qty).over(sw.group))),
      "minmax_in_key" -> safeDiv(qty - min(qty).over(sw.group),
        max(qty).over(sw.group) - min(qty).over(sw.group)),
      "age_weeks" -> (datediff(week, min(week).over(sw.group)) / 7).cast("long"))
    // ---- calendar/business family: per-row projections ----
    val calendar = Calendar.dateParts(week) ++
      Calendar.calendarFlags(week) ++
      Calendar.cyclicalEncodings(week) ++
      Calendar.seasonFlags(week) :+
      ("days_since_epoch" -> Calendar.daysSinceEpoch(week))
    val keyRatios = Seq(
      "key_cv" -> safeDiv(col("key_std"), col("key_mean")),
      "adi" -> col("key_n_weeks") /
        (col("key_nonzero_ratio") * col("key_n_weeks") + lit(Funcs.Eps)),
      "share_of_key" -> safeDiv(qty, col("key_sum")))

    val levels = Seq(
      temporal ++ helpers ++ stability ++ keyStats,
      slopes,
      accel ++ recency ++ inKey ++ calendar ++ keyRatios)
    val built = levels.foldLeft(weekly) { (df, level) =>
      df.withColumns(ListMap(level: _*)) // ordered: it fixes the Window stacking
    }
    // the published order: the input columns in place, then the features
    val names = (temporal ++ stability ++ slopes ++ accel ++ inKey ++ recency ++
      calendar ++ keyStats ++ keyRatios).map(_._1)
    val input = weekly.columns.toSeq.filterNot(helpers.map(_._1).contains)
    built.select((input ++ names.filterNot(input.contains)).map(col): _*)
  }

  /** The skew-proof fact→store path (r15 verdict ask #5): the q325
    * partialed-rolling discipline as the DEFAULT entry for building the
    * store from raw facts, instead of an opt-in operator the caller
    * must remember.
    *
    * Stage 1 PARTIALS the raw fact to the (keys, week) series grain
    * with one hash aggregate ([[graft.etl.Enrichment.weeklyAggregate]]):
    * map-side combine absorbs hot keys — a key with 10⁹ fact rows ships
    * one partial per map partition into the shuffle, never 10⁹ window
    * inputs. Stage 2 runs [[wide]]'s window families OVER THE PARTIALS,
    * where per-series window depth is bounded by the CALENDAR (weeks
    * observed), not the fact row count — exactly q325
    * `partialedRolling`'s window-over-partials shape, generalized from
    * one rolling sum to the whole temporal family (every W4 rolling
    * column, lags, slopes, autocorr). The raw-window alternative
    * (row frames straight over fact rows) pays the hot key inside the
    * window sort: SkewProbe measured 4.12× degradation raw vs 0.76×
    * partialed under a hot key (BENCH_NOTES r15).
    *
    * R16OpsSpec pins (a) row-for-row parity with the external
    * `wide(weeklyAggregate(fact))` composition (so the q110 oracle is
    * unchanged by construction) and (b) the plan shape: a partial
    * HashAggregate sits between the fact scan and the first Window —
    * no window function ever sees a fact-grain row. */
  def wideFromFact(fact: DataFrame, keys: Seq[String], dateCol: Column,
                   measure: Column,
                   lagSet: Seq[Int] = Seq(1, 2, 3, 4, 6, 8, 12),
                   rollSet: Seq[Int] = Seq(2, 3, 4, 6, 8, 12),
                   withEwma: Boolean = true): DataFrame = {
    val weekly = graft.etl.Enrichment.weeklyAggregate(
      fact, dateCol, keys.map(col), measure)
    wide(weekly, keys, "week_start", "qty_sum", lagSet, rollSet, withEwma)
  }

  /** `wide` + the reference's select-top-K step: score every generated
    * feature against a LEAK-FREE target (next week's quantity) and keep
    * the top K plus essentials (feature_pipeline.py:423-468; scoring =
    * FeatureQuality.importanceScores). */
  def wideSelected(weekly: DataFrame, keys: Seq[String], weekCol: String, qtyCol: String,
                   k: Int = 50): DataFrame = {
    val sw = SeriesWindow(keys.map(col), Seq(col(weekCol)))
    val base = wide(weekly, keys, weekCol, qtyCol)
    val baseCols = (keys :+ weekCol :+ qtyCol).toSet
    val featureCols = base.columns.filterNot(baseCols.contains)
      .filter(c => base.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val labeled = base
      .withColumn("__label", lead(col(qtyCol), 1).over(sw.w))
      .filter(col("__label").isNotNull)
    FeatureQuality.selectTopK(labeled, featureCols.toSeq, "__label", k,
      essentials = keys :+ weekCol :+ qtyCol)
      .drop("__label")
  }
}
