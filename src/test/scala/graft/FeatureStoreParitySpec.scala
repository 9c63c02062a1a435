package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.operators.{FeatureQuality, FeatureStore, SeriesWindow}

/** The dependency-level `FeatureStore.wide` and the long-format
  * `FeatureQuality.importanceScores` against their reference twins
  * (FeatureStoreTwins), bit for bit: same columns in the same order,
  * same types, and the same raw double bits in every cell. */
class FeatureStoreParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val keys = Seq("l_partkey", "l_suppkey")

  private def inputs: Seq[(String, DataFrame)] = Seq(
    "sf0.001 lineitem weekly" -> FeatureStoreTwins.lineitemWeekly(spark, dir),
    "synthetic weekly" -> FeatureStoreTwins.syntheticWeekly(spark))

  /** Raw-bit cell equality: doubles by `doubleToRawLongBits` (so -0.0
    * vs 0.0 and NaN payloads count), everything else by `==`. */
  private def sameBits(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  private def assertBitIdentical(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, s"$what: column order")
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), s"$what: column types")
    val order = (keys :+ "week_start").map(col)
    val g = got.orderBy(order: _*).collect()
    val w = want.orderBy(order: _*).collect()
    assert(g.length == w.length, s"$what: row count")
    val diffs = got.columns.indices.map { i =>
      got.columns(i) -> g.indices.count(r => !sameBits(g(r).get(i), w(r).get(i)))
    }.filter(_._2 > 0)
    assert(diffs.isEmpty, s"$what: differing cells per column ${diffs.mkString(", ")}")
  }

  private val variants: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("default args",
      FeatureStore.wide(_, keys, "week_start", "qty_sum"),
      FeatureStoreTwins.wide(_, keys, "week_start", "qty_sum")),
    ("withEwma = false",
      FeatureStore.wide(_, keys, "week_start", "qty_sum", withEwma = false),
      FeatureStoreTwins.wide(_, keys, "week_start", "qty_sum", withEwma = false)),
    ("custom lagSet/rollSet",
      FeatureStore.wide(_, keys, "week_start", "qty_sum", lagSet = Seq(5, 1), rollSet = Seq(7, 3)),
      FeatureStoreTwins.wide(_, keys, "week_start", "qty_sum", lagSet = Seq(5, 1),
        rollSet = Seq(7, 3))))

  for ((variant, level, twin) <- variants)
    test(s"wide ≡ the withColumn-chain twin, bit for bit: $variant") {
      inputs.foreach { case (name, weekly) =>
        assertBitIdentical(level(weekly), twin(weekly), s"$variant on $name")
      }
    }

  /** Raw bits of a (feature, score) table, in row order. */
  private def scoreBits(scores: DataFrame): Seq[(String, Long)] =
    scores.collect().toSeq.map { case Row(f: String, s: Double) =>
      f -> java.lang.Double.doubleToRawLongBits(s)
    }

  test("importanceScores (one grouped aggregate) ≡ the single-row twin over 4 partitions") {
    val sw = SeriesWindow(keys.map(col), Seq(col("week_start")))
    inputs.foreach { case (name, weekly) =>
      val base = FeatureStore.wide(weekly, keys, "week_start", "qty_sum")
      val features = base.columns.toSeq
        .filter(c => !(keys :+ "week_start").contains(c))
        .filter(c => base.schema(c).dataType.isInstanceOf[NumericType])
      // 4 input partitions: every feature merges 4 partial buffers
      val labeled = base.withColumn("__label", lead(col("qty_sum"), 1).over(sw.w))
        .filter(col("__label").isNotNull)
        .repartition(4)
      val got = scoreBits(FeatureQuality.importanceScores(labeled, features, "__label"))
      val want = scoreBits(FeatureStoreTwins.importanceScores(labeled, features, "__label"))
      assert(got.map(_._1) == features, s"$name: one row per feature, in order")
      val diffs = got.zip(want).filter { case (a, b) => a != b }.map(_._1._1)
      assert(diffs.isEmpty, s"$name: ${diffs.size} scores differ: ${diffs.mkString(", ")}")
      // an empty input still scores every feature (its boost alone)
      val empty = labeled.limit(0)
      assert(scoreBits(FeatureQuality.importanceScores(empty, features, "__label")) ==
        scoreBits(FeatureStoreTwins.importanceScores(empty, features, "__label")),
        s"$name: empty input")
    }
  }
}
