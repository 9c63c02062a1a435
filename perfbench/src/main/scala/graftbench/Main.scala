package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StructType}

import graft.SparkEntry
import graft.app.Jobs
import graft.core.Tables
import graft.etl.{Cleaning, Enrichment}
import graft.functions.Calendar
import graft.io.{Sinks, SubmissionValidator}
import graft.metrics.Metrics
import graft.model.Models
import graft.operators.{FeatureStore, SeriesWindow, WindowFeatures}
import graft.post.PostProcess
import graft.seq.{Champion, SequentialKernels}

/** One benchmark JVM: sets up a session, runs one workload once (timed),
  * checks what it can from inside the JVM, and writes a JSON result file
  * that `perfbench/run.py` turns into metrics.
  *
  * Arguments are `key=value`: workload, input, warm (query_mix warm-up
  * input), out, result, traced (0|1), seconds, seed, cores, mix and warmup
  * (comma-separated query names, query_mix only).
  *
  * With traced=1 the workload runs as a traced composition: every call
  * into a program module is a span, DataFrames are materialized at module
  * boundaries so each span's self time is the work of that module, and a
  * SparkListener plus a QueryExecutionListener record the execution and
  * planning totals.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val out = a("out")
    val cores = a("cores")
    val traced = a("traced") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .appName(s"graft-perfbench-$workload")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(s"$workload-${a("seed")}")
    val execL = new ExecListener
    val planL = new PlanListener
    if (traced) {
      spark.sparkContext.addSparkListener(execL)
      spark.listenerManager.register(planL)
    }
    val run = new Run(spark, a,
      if (traced) Some(new Traced(spark, a("input"), tracer, execL, planL)) else None)
    val res = workload match {
      case "forecast_submit" => run.forecastSubmit()
      case "train_models" => run.trainModels()
      case "query_mix" => run.queryMix()
      case other => sys.error(s"unknown workload $other")
    }
    val traceRes: Map[String, Any] =
      if (!traced) Map.empty
      else Map(
        "spans" -> tracer.recorded.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "run" -> tracer.runId)),
        "jobs" -> run.jobsSnapshot.map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "ok" -> j.ok)),
        "exec" -> run.execSnapshot,
        "plan" -> run.planSnapshot,
        "tallies" -> run.traced.map(_.tallies.toMap).getOrElse(Map.empty))
    val meta = Map(
      "workload" -> workload,
      "traced" -> traced,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cores" -> cores.toInt)
    Main.writeJson(a("result"), meta ++ res ++ traceRes)
    spark.stop()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit =
    json.writeValue(new java.io.File(path), value)

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** The three workloads, untraced (the program's own entry points) or
  * traced (the same steps composed from module calls by [[Traced]]). */
final class Run(spark: SparkSession, a: Map[String, String], val traced: Option[Traced]) {
  import Main.noop

  private val in = a("input")
  private val out = a("out")
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  var jobsSnapshot: Seq[Job] = Nil
  var execSnapshot: Map[String, Any] = Map.empty
  var planSnapshot: Map[String, Any] = Map.empty

  private def step(name: String)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val err = try { traced.fold(body)(t => t.tracer.span(s"step:$name")(body)); None }
    catch { case e: Throwable => Some(e.toString.take(300)) }
    ops += Map("name" -> name, "s" -> (System.nanoTime() - t0) / 1e9,
      "ok" -> err.isEmpty, "error" -> err)
    err.isEmpty
  }

  /** Runs the timed section, then snapshots listener totals before any
    * untimed check work can add to them. */
  private def timed(body: => Unit): Map[String, Any] = {
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val rss = Main.peakRssKb()
    traced.foreach { t =>
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      val e = t.execL
      jobsSnapshot = e.jobs.toSeq
      execSnapshot = Map("stages" -> e.stages, "tasks" -> e.tasks,
        "failed_tasks" -> e.failedTasks, "cpu_s" -> e.cpuNs / 1e9, "gc_s" -> e.gcMs / 1e3,
        "task_wait_s" -> e.taskWaitMs / 1e3,
        "shuffle_write_mb" -> e.shuffleWriteBytes / 1048576.0,
        "shuffle_read_mb" -> e.shuffleReadBytes / 1048576.0,
        "spill_mb" -> e.spillBytes / 1048576.0,
        "peak_exec_mem_mb" -> e.peakExecMem / 1048576.0)
      val p = t.planL
      planSnapshot = Map("analysis_s" -> p.analysisMs / 1e3,
        "optimization_s" -> p.optimizationMs / 1e3, "planning_s" -> p.planningMs / 1e3,
        "exchanges" -> p.exchanges, "broadcasts" -> p.broadcasts,
        "global_windows" -> p.globalWindows, "cartesians" -> p.cartesians)
      t.settle()
    }
    Map("first_op_ms" -> firstOpMs, "wall_s" -> wall, "peak_rss_kb" -> rss, "ops" -> ops.toSeq)
  }

  def forecastSubmit(): Map[String, Any] = {
    val res = timed {
      traced match {
        case None =>
          step("etl")(noop(Jobs.etl(spark, in)))
          step("feature_store")(Sinks.parquet(Jobs.featureStore(spark, in), s"$out/feature_store"))
          step("forecast")(Jobs.forecastSubmission(spark, in, out))
          step("champion")(Jobs.championSubmission(spark, in, out))
        case Some(t) =>
          step("etl")(noop(t.etl()))
          step("feature_store")(t.writeParquet(t.featureStore(), s"$out/feature_store"))
          step("forecast")(t.forecastSubmission(out))
          step("champion")(t.championSubmission(out))
      }
    }
    val valid = Seq("submission", "submission_champion").map { d =>
      d -> (try SubmissionValidator.isValid(spark.read.option("sep", ";")
        .option("header", "true").option("inferSchema", "true").csv(s"$out/$d"))
      catch { case _: Throwable => false })
    }.toMap
    res ++ Map("csv_valid" -> valid)
  }

  def trainModels(): Map[String, Any] = {
    var wm: (Double, Double) = (Double.NaN, Double.NaN)
    var wide: Option[DataFrame] = None
    val res = timed {
      traced match {
        case None =>
          step("feature_store_wide") {
            wide = Some(Jobs.featureStoreWide(spark, in, k = Run.WideK))
            noop(wide.get)
          }
          step("gbt") { wm = Jobs.gbtForecast(spark, in) }
        case Some(t) =>
          step("feature_store_wide") { wide = Some(t.featureStoreWide(Run.WideK)) }
          step("gbt") { wm = t.gbtForecast() }
      }
    }
    // untimed: the wide frame's shape against the weekly grain it came from.
    // Selection needs a next week as its label, so each series loses its last
    // week: expected rows = weekly rows - series.
    val shape = wide.flatMap { df =>
      scala.util.Try {
        val weekly = Jobs.etl(spark, in)
        Map("wide_columns" -> df.columns.toSeq, "wide_rows" -> df.count(),
          "wide_expected_rows" ->
            (weekly.count() - weekly.select("l_partkey", "l_suppkey").distinct().count()),
          "wide_k" -> Run.WideK)
      }.toOption
    }.getOrElse(Map.empty)
    res ++ shape ++ Map("wmape_gbt" -> wm._1, "wmape_naive" -> wm._2)
  }

  def queryMix(): Map[String, Any] = {
    val registry = SparkEntry.queries
    val mix = a("mix").split(",").toSeq
    a("warmup").split(",").filter(_.nonEmpty).foreach { q =>
      try noop(registry(q)(spark, a("warm"))) catch { case _: Throwable => () }
    }
    val seconds = a("seconds").toDouble
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val res = timed {
      val t0 = System.nanoTime()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val order = new scala.util.Random(a("seed").toLong * 1000 + pass).shuffle(mix)
        order.foreach { q =>
          step(q) {
            val df = traced.fold(registry(q)(spark, in))(_.tracer.build(registry(q)(spark, in)))
            val rows = traced.fold(df.collect())(_.tracer.exec(df.collect()))
            if (!results.contains(q)) results(q) = (rows, df.schema)
          }
        }
        pass += 1
      }
    }
    // untimed: dump each query's first result for the oracle compare
    results.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$q")
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => results.contains(q) }
    Main.writeJson(s"$out/results/oracle_sql.json", oracle)
    res
  }
}

/** The traced compositions. Each mirrors the `graft.app.Jobs` entry point
  * of the same name step for step (the untraced and traced submissions
  * must hash equal); the difference is that every module call is a span
  * and its output is materialized (local checkpoint) before the next
  * module reads it. Work counts that need an extra action are deferred to
  * [[settle]], after the timed section. */
final class Traced(spark: SparkSession, in: String, val tracer: Tracer,
                   val execL: ExecListener, val planL: PlanListener) {
  import Main.noop

  val tallies = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val deferred = ArrayBuffer.empty[() => Unit]
  private val keys = Seq("l_partkey", "l_suppkey")
  private def later(f: => Unit): Unit = deferred += (() => f)
  def settle(): Unit = deferred.foreach(_())

  private def cp(df: DataFrame): DataFrame = tracer.exec {
    val c = df.localCheckpoint(eager = true)
    planL.note(df.queryExecution)
    c
  }

  private def seriesTally(df: DataFrame, cols: Seq[String]): Unit =
    later { tallies("seq.series") += df.select(cols.map(col): _*).distinct().count() }

  def etl(): DataFrame = {
    val (li, part) = tracer.span("core") {
      val (l, p) = tracer.build((Tables.lineitem(spark, in), Tables.part(spark, in)))
      (cp(l), cp(p))
    }
    val (cleaned, weekly) = tracer.span("etl") {
      val c = cp(tracer.build(Seq(
        Cleaning.dropNullKeys(Seq("l_partkey", "l_suppkey")) _,
        Cleaning.fillZero(Seq("l_quantity")) _,
        Cleaning.positiveOnly("l_quantity") _,
        Cleaning.dedupKeepFirst(Seq("l_orderkey", "l_partkey", "l_linenumber"),
          Seq(col("l_quantity"), col("l_extendedprice"))) _
      ).foldLeft(li)((d, step) => step(d))))
      val w = cp(tracer.build(Enrichment.weeklyAggregate(
        Enrichment.enrich(c, part, "l_partkey", "p_partkey"), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey"), col("p_brand")), col("l_quantity"))))
      (c, w)
    }
    later {
      val n = li.count()
      tallies("core.rows") += n + part.count()
      tallies("etl.scanned") += n
      tallies("etl.kept") += cleaned.count()
    }
    weekly
  }

  def featureStore(): DataFrame = {
    val weekly = etl()
    val withCalendar = tracer.span("operators") {
      cp(tracer.build {
        val sw = SeriesWindow(keys.map(col), Seq(col("week_start")))
        val qty = col("qty_sum")
        val withTemporal = weekly
          .withColumn("lag_1", lag(qty, 1).over(sw.w))
          .withColumn("lag_4", lag(qty, 4).over(sw.w))
          .withColumn("roll_mean_4", WindowFeatures.rollingAvg(qty, 4, sw))
          .withColumn("roll_std_4", WindowFeatures.rollingStd(qty, 4, sw))
          .withColumn("momentum_1", WindowFeatures.momentum(qty, 1, sw))
          .withColumn("stability", WindowFeatures.groupStability(qty, sw))
        (Calendar.dateParts(col("week_start")) ++ Calendar.seasonFlags(col("week_start")))
          .foldLeft(withTemporal) { case (d, (n, c)) => d.withColumn(n, c) }
      })
    }
    val features = tracer.span("seq") {
      cp(tracer.build(SequentialKernels.withEwma(withCalendar, keys,
        Seq(col("week_start")), "qty_sum", 0.3, "ewma_03")))
    }
    seriesTally(features, keys)
    features
  }

  def writeParquet(df: DataFrame, path: String): Unit = {
    tracer.span("io.write")(Sinks.parquet(df, path))
    later { tallies("io.bytes_written") += Run.bytesUnder(path) }
  }

  private def submit(processed: DataFrame, path: String): DataFrame = {
    val back = tracer.span("io.write")(Sinks.csvSubmission(spark, processed, path))
    tracer.span("io.validate")(require(SubmissionValidator.isValid(back),
      s"$path failed validation"))
    later { tallies("io.bytes_written") += Run.bytesUnder(path) }
    back
  }

  private def postProcess(grid: DataFrame): DataFrame = tracer.span("post") {
    cp(tracer.build(PostProcess.chain(Seq(
      PostProcess.nonNegative("quantidade"),
      PostProcess.sigmaCap("quantidade", 5.0),
      PostProcess.integerize("quantidade")))(grid)
      .withColumn("quantidade", col("quantidade").cast("long"))))
  }

  def forecastSubmission(outDir: String): DataFrame = {
    val weekly = etl()
    val grid = tracer.span("seq") {
      cp(tracer.build {
        val ew = SequentialKernels.withEwma(weekly, keys, Seq(col("week_start")),
          "qty_sum", 0.3, "ewma")
        val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
          .orderBy(col("week_start").desc)
        ew.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("l_partkey"), col("l_suppkey"), col("ewma"))
          .withColumn("semana", explode(sequence(lit(1), lit(5))))
          .select(col("semana"), col("l_suppkey").as("pdv"),
            col("l_partkey").as("produto"), col("ewma").as("quantidade"))
      })
    }
    seriesTally(grid, Seq("pdv", "produto"))
    submit(postProcess(grid), s"$outDir/submission")
  }

  def championSubmission(outDir: String): DataFrame = {
    val weekly = etl()
    val grid = tracer.span("seq") {
      cp(tracer.build(Champion.championForecast(weekly, keys, Seq(col("week_start")),
        "qty_sum", h = 5, m = 13)
        .select(col("step").cast("int").as("semana"), col("l_suppkey").as("pdv"),
          col("l_partkey").as("produto"), col("forecast").as("quantidade"))))
    }
    seriesTally(grid, Seq("pdv", "produto"))
    submit(postProcess(grid), s"$outDir/submission_champion")
  }

  def featureStoreWide(k: Int): DataFrame = {
    val weekly = etl()
    tracer.span("operators") {
      val df = tracer.build(FeatureStore.wideSelected(weekly, keys, "week_start", "qty_sum", k))
      tracer.exec(noop(df))
      later {
        val base = FeatureStore.wide(weekly, keys, "week_start", "qty_sum")
        val baseCols = (keys :+ "week_start" :+ "qty_sum").toSet
        tallies("operators.generated") += base.columns.count(c =>
          !baseCols(c) && base.schema(c).dataType.isInstanceOf[NumericType])
        tallies("operators.selected") += df.columns.count(c => !baseCols(c))
      }
      df
    }
  }

  def gbtForecast(holdoutWeeks: Int = 4): (Double, Double) = {
    val sw = Window.partitionBy(col("l_partkey"), col("l_suppkey")).orderBy(col("week_start"))
    val store = featureStore()
    val features = cp(tracer.build(store
      .withColumn("label", lead(col("qty_sum"), 1).over(sw))
      .filter(col("label").isNotNull)
      .na.fill(0.0)))
    val featCols = Seq("qty_sum", "lag_1", "lag_4", "roll_mean_4", "roll_std_4",
      "momentum_1", "stability", "ewma_03", "month", "dow", "quarter", "week_of_year")
    val (_, hi) = graft.cv.TimeSplits.dateBounds(features, col("week_start"))
    val cut = hi.minusWeeks(holdoutWeeks)
    val train = features.filter(col("week_start") <= lit(cut.toString))
    val test = features.filter(col("week_start") > lit(cut.toString))
    val model = tracer.span("model")(tracer.exec(
      Models.fitGbt(train, featCols, "label", maxIter = 20, maxDepth = 5)))
    val scored = tracer.span("model")(cp(tracer.build(Models.predictGbt(model, test, featCols)
      .withColumn("prediction", greatest(col("prediction"), lit(0.0))))))
    val gbtWmape = scored.agg(Metrics.wmape(col("label"), col("prediction"))).head().getDouble(0)
    val naiveWmape = scored.agg(Metrics.wmape(col("label"), col("ewma_03"))).head().getDouble(0)
    (gbtWmape, naiveWmape)
  }
}

object Run {
  /** Features `train_models` keeps from the wide frame. */
  val WideK = 50

  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(f => java.nio.file.Files.size(f)).sum
  }
}
