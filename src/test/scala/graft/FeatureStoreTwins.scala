package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Calendar, Funcs}
import graft.functions.Funcs.{nanToNull, safeDiv}
import graft.operators.{SeriesWindow, WindowFeatures}

/** Reference twins of the wide feature store and its importance
  * scoring, in the form they had before the dependency-level rewrite:
  * one `withColumn` per feature and one single-row aggregate with
  * three aggregate functions per feature. `FeatureStoreParitySpec`
  * pins the production forms against these bit for bit. */
object FeatureStoreTwins {

  /** The `withColumn`-chain form of [[graft.operators.FeatureStore.wide]]. */
  def wide(weekly: DataFrame, keys: Seq[String], weekCol: String, qtyCol: String,
           lagSet: Seq[Int] = Seq(1, 2, 3, 4, 6, 8, 12),
           rollSet: Seq[Int] = Seq(2, 3, 4, 6, 8, 12),
           withEwma: Boolean = true): DataFrame = {
    val sw = SeriesWindow(keys.map(col), Seq(col(weekCol)))
    val qty = col(qtyCol)
    var out = if (withEwma)
      graft.seq.SequentialKernels.withEwma(weekly, keys, Seq(col(weekCol)), qtyCol, 0.3, "ewma_03")
    else weekly
    WindowFeatures.lags(qty, lagSet, sw).foreach { case (n, c) =>
      out = out.withColumn(n, c)
    }
    lagSet.foreach { k =>
      out = out
        .withColumn(s"delta_$k", WindowFeatures.lagDelta(qty, k, sw))
        .withColumn(s"pct_change_$k", WindowFeatures.lagPctChange(qty, k, sw))
    }
    rollSet.foreach { n =>
      out = out
        .withColumn(s"roll${n}_mean", WindowFeatures.rollingAvg(qty, n, sw))
        .withColumn(s"roll${n}_std", WindowFeatures.rollingStd(qty, n, sw))
        .withColumn(s"roll${n}_min", WindowFeatures.rollingMin(qty, n, sw))
        .withColumn(s"roll${n}_max", WindowFeatures.rollingMax(qty, n, sw))
        .withColumn(s"roll${n}_sum", WindowFeatures.rollingSum(qty, n, sw))
        .withColumn(s"roll${n}_cv", WindowFeatures.rollingCv(qty, n, sw))
    }
    out = out
      .withColumn("momentum_1", WindowFeatures.momentum(qty, 1, sw))
      .withColumn("momentum_4", WindowFeatures.momentum(qty, 4, sw))
      .withColumn("stability", WindowFeatures.groupStability(qty, sw))
    out = WindowFeatures.withRollingSlope(out, qtyCol, 8, sw, "slope_8")
    out = WindowFeatures.withRollingAutocorr1(out, qtyCol, 8, sw, "autocorr_8")
    out = WindowFeatures.withTrendAccel(out, qtyCol, 8, sw, "accel_8")

    val byQty = Window.partitionBy(keys.map(col): _*).orderBy(qty, col(weekCol))
    out = out
      .withColumn("pct_rank_in_key", percent_rank().over(byQty))
      .withColumn("zscore_in_key",
        safeDiv(qty - avg(qty).over(sw.group),
          Funcs.nanToNull(stddev(qty).over(sw.group))))
      .withColumn("minmax_in_key",
        safeDiv(qty - min(qty).over(sw.group), max(qty).over(sw.group) - min(qty).over(sw.group)))
      .withColumn("age_weeks",
        (datediff(col(weekCol), min(col(weekCol)).over(sw.group)) / 7).cast("long"))
      .withColumn("weeks_since_nonzero",
        (datediff(col(weekCol),
          last(when(qty > 0, col(weekCol)), ignoreNulls = true)
            .over(sw.w.rowsBetween(Window.unboundedPreceding, -1))) / 7).cast("long"))
      .withColumn("nonzero_last_4",
        sum(when(qty > 0, 1L).otherwise(0L)).over(sw.rows(-3, 0)))

    val calCols = Calendar.dateParts(col(weekCol)) ++
      Calendar.calendarFlags(col(weekCol)) ++
      Calendar.cyclicalEncodings(col(weekCol)) ++
      Calendar.seasonFlags(col(weekCol)) :+
      ("days_since_epoch" -> Calendar.daysSinceEpoch(col(weekCol)))
    calCols.foreach { case (n, c) => out = out.withColumn(n, c) }

    out
      .withColumn("key_sum", sum(qty).over(sw.group))
      .withColumn("key_mean", avg(qty).over(sw.group))
      .withColumn("key_std", Funcs.nanToNull(stddev(qty).over(sw.group)))
      .withColumn("key_min", min(qty).over(sw.group))
      .withColumn("key_max", max(qty).over(sw.group))
      .withColumn("key_n_weeks", count(lit(1)).over(sw.group))
      .withColumn("key_nonzero_ratio",
        avg(when(qty > 0, 1.0).otherwise(0.0)).over(sw.group))
      .withColumn("key_cv", safeDiv(col("key_std"), col("key_mean")))
      .withColumn("adi",
        col("key_n_weeks") / (col("key_nonzero_ratio") * col("key_n_weeks") + lit(Funcs.Eps)))
      .withColumn("share_of_key", safeDiv(qty, col("key_sum")))
  }

  /** The single-row form of [[graft.operators.FeatureQuality.importanceScores]]:
    * one no-grouping aggregate holding corr/avg/stddev for every
    * feature, exploded to (feature, score) afterwards. */
  def importanceScores(df: DataFrame, features: Seq[String], target: String,
                       keywordBoosts: Map[String, Double] =
                         Map("lag" -> 0.2, "rolling" -> 0.15, "trend" -> 0.1)): DataFrame = {
    val aggs = features.flatMap { c =>
      Seq(nanToNull(corr(col(c), col(target))).as(s"__${c}__corr"),
        avg(col(c)).as(s"__${c}__mean"),
        nanToNull(stddev(col(c))).as(s"__${c}__std"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = features.map { c =>
      val boost = keywordBoosts.collect {
        case (kw, b) if c.contains(kw) => b
      }.foldLeft(0.0)(_ + _)
      struct(
        lit(c).as("feature"),
        (coalesce(abs(col(s"__${c}__corr")), lit(0.0)) * 0.3 +
          coalesce(col(s"__${c}__std") / (abs(col(s"__${c}__mean")) + lit(1e-8)), lit(0.0))
            * 0.2 + lit(boost)).as("score"))
    }
    wide.select(explode(array(entries: _*)).as("e")).select("e.*")
  }

  /** The features [[graft.operators.FeatureStore.wideSelected]] keeps,
    * picked with the twin `wide` and the twin scoring. */
  def wideSelectedPick(weekly: DataFrame, keys: Seq[String], weekCol: String,
                       qtyCol: String, k: Int): Seq[String] = {
    val sw = SeriesWindow(keys.map(col), Seq(col(weekCol)))
    val base = wide(weekly, keys, weekCol, qtyCol)
    val baseCols = (keys :+ weekCol :+ qtyCol).toSet
    val featureCols = base.columns.filterNot(baseCols.contains)
      .filter(c => base.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val labeled = base
      .withColumn("__label", lead(col(qtyCol), 1).over(sw.w))
      .filter(col("__label").isNotNull)
    importanceScores(labeled, featureCols.toSeq, "__label")
      .orderBy(col("score").desc, col("feature").asc)
      .select("feature").collect().map(_.getString(0)).take(k).toSeq
  }

  /** `FeatureStoreSpec`'s synthetic weekly frame: 10 series of 20 weeks
    * with planted zero weeks. */
  def syntheticWeekly(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for {
      p <- 1 to 5; s <- 1 to 2; w <- 0 until 20
    } yield (java.sql.Date.valueOf(java.time.LocalDate.parse("2024-01-01").plusWeeks(w)),
      p.toLong, s.toLong, if ((p + w) % 4 == 0) 0.0 else (p * 10 + w).toDouble)
    rows.toDF("week_start", "l_partkey", "l_suppkey", "qty_sum")
  }

  /** A lineitem table at the (part, supplier, week) grain. */
  def lineitemWeekly(spark: SparkSession, dir: String): DataFrame =
    graft.etl.Enrichment.weeklyAggregate(
      graft.core.Tables.lineitem(spark, dir), col("l_shipdate"),
      Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
}
