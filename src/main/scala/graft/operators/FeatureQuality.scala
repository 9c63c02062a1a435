package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Funcs.nanToNull

/** Feature-store quality and selection operators A35/A36
  * (reference: src/features/feature_pipeline.py:188-468).
  */
object FeatureQuality {

  /** A35 — per-feature quality scan: nulls, NaNs, zeros, distincts,
    * constant-column flag, mean/std — ONE distributed pass for all
    * features, emitted long-format (feature, metric columns) via an
    * explode of the per-column structs. */
  def qualityScan(df: DataFrame, features: Seq[String]): DataFrame = {
    val aggs = features.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}__nulls"),
        sum(when(isnan(col(c)), 1L).otherwise(0L)).as(s"__${c}__nans"),
        sum(when(col(c) === 0, 1L).otherwise(0L)).as(s"__${c}__zeros"),
        countDistinct(col(c)).as(s"__${c}__distinct"),
        avg(col(c)).as(s"__${c}__mean"),
        nanToNull(stddev(col(c))).as(s"__${c}__std"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = features.map(c => struct(
      lit(c).as("feature"),
      col(s"__${c}__nulls").as("n_nulls"),
      col(s"__${c}__nans").as("n_nans"),
      col(s"__${c}__zeros").as("n_zeros"),
      col(s"__${c}__distinct").as("n_distinct"),
      (col(s"__${c}__distinct") <= 1).cast("int").as("is_constant"),
      col(s"__${c}__mean").as("mean"),
      col(s"__${c}__std").as("std")))
    wide.select(explode(array(entries: _*)).as("e")).select("e.*")
  }

  /** A35 (corr leg) — pairwise |corr| above a threshold among the given
    * features: one no-grouping agg computing all pairs (k²/2 corr
    * expressions over a single pass). Its cost grows with the
    * expression count, not only with the rows: the same single-row
    * shape with 318 aggregates (the former [[importanceScores]], 106
    * features) took 5.7–9.5 s warm over 8k rows on 4 cores, so widths
    * past ~25 features (300 pairs) pay seconds per call. */
  def highCorrPairs(df: DataFrame, features: Seq[String],
                    threshold: Double = 0.95): DataFrame = {
    val pairs = for {
      (a, i) <- features.zipWithIndex
      b <- features.drop(i + 1)
    } yield (a, b)
    val aggs = pairs.map { case (a, b) =>
      nanToNull(corr(col(a), col(b))).as(s"__${a}__${b}")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = pairs.map { case (a, b) => struct(
      lit(a).as("feature_a"), lit(b).as("feature_b"),
      col(s"__${a}__${b}").as("corr")) }
    wide.select(explode(array(entries: _*)).as("e")).select("e.*")
      .filter(abs(col("corr")) > threshold)
  }

  /** A36 — feature-importance scores: 0.3·|corr(f, target)| +
    * 0.2·(std/(|mean|+ε)) + keyword boosts on the feature NAME
    * (reference's heuristic scoring, feature_pipeline.py:283-420).
    * Returns the (feature, score) table — dim-sized, one row per
    * feature in `features` order, also over an empty input.
    *
    * Long format: each row explodes to one (feature, x, y) row per
    * feature and ONE grouped aggregate with three aggregate functions
    * computes corr/avg/stddev per feature. The single-row form (three
    * aggregate functions per feature in one no-grouping aggregate, 318
    * for 106 features) took 5.7–9.5 s warm over 8k rows on 4 cores;
    * this form takes 0.6–1.7 s on the same input in the same JVM. Each
    * feature still folds the same rows in the same partition order
    * through the same merge tree, so the scores are bit-identical to
    * that form (FeatureStoreParitySpec). Features and target are read
    * as doubles; a DECIMAL feature's mean is therefore a double mean. */
  def importanceScores(df: DataFrame, features: Seq[String], target: String,
                       keywordBoosts: Map[String, Double] =
                         Map("lag" -> 0.2, "rolling" -> 0.15, "trend" -> 0.1)): DataFrame = {
    require(features.nonEmpty, "importanceScores needs at least one feature")
    val y = col(target).cast("double")
    val long = df.select(explode(array(features.distinct.map(c =>
      struct(lit(c).as("feature"), col(c).cast("double").as("x"), y.as("y"))): _*)).as("e"))
      .select("e.*")
    val stats = long.groupBy("feature").agg(
      nanToNull(corr(col("x"), col("y"))).as("corr"),
      avg(col("x")).as("mean"),
      nanToNull(stddev(col("x"))).as("std"))
    // the feature list drives the output, so a feature with no input
    // rows keeps its row (NULL stats score as 0 plus its boost); one
    // partition, as the single-row form had, so ranking it needs no
    // range exchange
    import df.sparkSession.implicits._
    val boosts = features.map(c => c -> keywordBoost(c, keywordBoosts)).toDF("feature", "boost")
    boosts.join(broadcast(stats), Seq("feature"), "left")
      .select(col("feature"),
        (coalesce(abs(col("corr")), lit(0.0)) * 0.3 +
          coalesce(col("std") / (abs(col("mean")) + lit(1e-8)), lit(0.0)) * 0.2 +
          col("boost")).as("score"))
      .coalesce(1)
  }

  /** Sum of the boosts whose keyword occurs in the feature name. */
  private def keywordBoost(feature: String, keywordBoosts: Map[String, Double]): Double =
    keywordBoosts.collect { case (kw, b) if feature.contains(kw) => b }.foldLeft(0.0)(_ + _)

  /** Two-slice variant of [[importanceScores]] — both slices' scores
    * in ONE fact scan via conditional aggregation. `corr`/`avg`/
    * `stddev` over `when(pred, x)` skip the other slice's rows
    * pairwise, so each side equals the filtered-scan result bit for
    * bit (same contributing rows, same partition order, same merge
    * tree); rows where `slice` is NULL land on neither side, matching
    * `filter(slice)` / `filter(!slice)`. This is the baseline-vs-
    * current monitoring shape (model_diagnostics.py:445-527 compares
    * two importance snapshots): fusing halves the fact scans and the
    * aggregation codegen a cold monitoring sweep pays for. Returns
    * (feature, score_in, score_out): the [[importanceScores]] score
    * over rows WHERE slice and WHERE NOT slice. */
  def importanceScoresSliced(df: DataFrame, slice: Column,
                             features: Seq[String], target: String,
                             keywordBoosts: Map[String, Double] =
                               Map("lag" -> 0.2, "rolling" -> 0.15, "trend" -> 0.1)): DataFrame = {
    def side(tag: String, pred: Column) = features.flatMap { c =>
      Seq(nanToNull(corr(when(pred, col(c)), when(pred, col(target))))
          .as(s"__${c}__corr_$tag"),
        avg(when(pred, col(c))).as(s"__${c}__mean_$tag"),
        nanToNull(stddev(when(pred, col(c)))).as(s"__${c}__std_$tag"))
    }
    val aggs = side("in", slice) ++ side("out", !slice)
    val wide = df.agg(aggs.head, aggs.tail: _*)
    def score(c: String, tag: String): Column = {
      val boost = keywordBoost(c, keywordBoosts)
      coalesce(abs(col(s"__${c}__corr_$tag")), lit(0.0)) * 0.3 +
        coalesce(col(s"__${c}__std_$tag") /
          (abs(col(s"__${c}__mean_$tag")) + lit(1e-8)), lit(0.0)) * 0.2 +
        lit(boost)
    }
    val entries = features.map { c =>
      struct(lit(c).as("feature"), score(c, "in").as("score_in"),
        score(c, "out").as("score_out"))
    }
    wide.select(explode(array(entries: _*)).as("e")).select("e.*")
  }

  /** A36 (selection leg) — keep the top-K scored features plus
    * essentials. The ranking collect is on the dim-sized score table
    * (one row per FEATURE) — a deliberate driver action. */
  def selectTopK(df: DataFrame, features: Seq[String], target: String, k: Int,
                 essentials: Seq[String]): DataFrame = {
    val scores = importanceScores(df, features, target)
      .orderBy(col("score").desc, col("feature").asc)
      .select("feature").collect().map(_.getString(0))
    val keep = (essentials ++ scores.take(k)).distinct.filter(df.columns.contains)
    df.select(keep.map(col): _*)
  }
}
