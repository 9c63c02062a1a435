package graft

import org.apache.spark.sql.functions._
import graft.operators.FeatureStore

class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def weekly() = FeatureStoreTwins.syntheticWeekly(spark)

  test("wide produces 100+ feature columns across all four families") {
    val out = FeatureStore.wide(weekly(), Seq("l_partkey", "l_suppkey"),
      "week_start", "qty_sum")
    val base = Set("week_start", "l_partkey", "l_suppkey", "qty_sum")
    val features = out.columns.filterNot(base.contains)
    assert(features.length >= 100, s"only ${features.length} features: ${features.mkString(",")}")
    // one representative per family
    assert(features.contains("lag_4"))            // temporal
    assert(features.contains("pct_rank_in_key"))  // behavioral
    assert(features.contains("month_sin"))        // calendar
    assert(features.contains("adi"))              // aggregation
    assert(features.contains("ewma_03"))          // sequential kernel
    // row grain preserved: feature generation must not fan out rows
    assert(out.count() == weekly().count())
  }

  test("wide feature values are correct on a hand-checked series") {
    val df = Seq(
      ("2024-01-01", 1L, 1L, 10.0),
      ("2024-01-08", 1L, 1L, 20.0),
      ("2024-01-15", 1L, 1L, 0.0),
      ("2024-01-22", 1L, 1L, 40.0))
      .toDF("week_start", "l_partkey", "l_suppkey", "qty_sum")
      .withColumn("week_start", to_date(col("week_start")))
    val out = FeatureStore.wide(df, Seq("l_partkey", "l_suppkey"), "week_start", "qty_sum")
      .orderBy("week_start")
      .select("lag_1", "delta_1", "roll2_mean", "age_weeks", "weeks_since_nonzero",
        "nonzero_last_4", "share_of_key")
      .collect()
    assert(out(1).getDouble(0) == 10.0)            // lag_1 of week 2
    assert(out(1).getDouble(1) == 10.0)            // delta_1 = 20-10
    assert(out(1).getDouble(2) == 15.0)            // roll2_mean = (10+20)/2
    assert(out(3).getLong(3) == 3L)                // age_weeks of week 4
    assert(out(3).getLong(4) == 2L)                // last nonzero was week 2 of 4
    assert(out(3).getLong(5) == 3L)                // 3 nonzero among last 4
    assert(math.abs(out(3).getDouble(6) - 40.0 / 70.0) < 1e-6)
  }

  test("wideSelected keeps essentials and at most k + essentials columns") {
    val keys = Seq("l_partkey", "l_suppkey")
    val k = 10
    val out = FeatureStore.wideSelected(weekly(), keys, "week_start", "qty_sum", k = k)
    val essentials = keys :+ "week_start" :+ "qty_sum"
    // the wide frame has 100+ numeric features, so exactly k are kept
    assert(out.columns.toSeq.take(4) == essentials)
    assert(out.columns.length == 4 + k, s"${out.columns.length} cols")
    assert(out.columns.distinct.length == out.columns.length, out.columns.mkString(","))
    // one row per labeled week: every series loses its last week
    val series = weekly().select(keys.map(col): _*).distinct().count()
    assert(out.count() == weekly().count() - series)
    // the pick is the one the withColumn-chain store and single-row
    // scoring make
    assert(out.columns.toSeq.drop(4) ==
      FeatureStoreTwins.wideSelectedPick(weekly(), keys, "week_start", "qty_sum", k))
  }
}
