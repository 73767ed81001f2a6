package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{EtlMain, I2b2Config, I2b2Pipeline, LoadOrchestrator}

/** The per-layer metrics of a traced run. A layer the workload never
  * calls reads 0 (the ETL workloads build no shared stages, the
  * registry loads nothing over JDBC).
  */
object Layers {

  val Metrics: Seq[(String, String)] = Seq(
    "sources.extract_s" -> "s", "sources.fetch_bytes" -> "bytes",
    "sources.zip_parse_s" -> "s", "sources.rows_parsed" -> "count",
    "transform.plan_s" -> "s", "transform.exec_s" -> "s",
    "transform.task_busy_s" -> "s", "transform.busy_frac" -> "ratio",
    "transform.shuffle_bytes" -> "bytes", "transform.spill_bytes" -> "bytes",
    "transform.gc_s" -> "s",
    "load.total_s" -> "s", "load.cache_fill_s" -> "s",
    "load.jdbc_insert_s" -> "s", "load.insert_rows_per_s" -> "1/s",
    "load.insert_busy_frac" -> "ratio", "load.jdbc_ctl_s" -> "s",
    "load.csv_export_s" -> "s", "load.csv_bytes" -> "bytes",
    "stages.build_s" -> "s", "stages.max_build_s" -> "s",
    "stages.cached_bytes" -> "bytes") ++
    Families.all.map(f => s"family.${f}_s" -> "s") ++ Seq(
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s",
    "plan.planning_s" -> "s", "plan.exchanges" -> "count",
    "plan.sort_aggregates" -> "count", "plan.smj" -> "count",
    "plan.fallback_exprs" -> "count",
    "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_busy_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.gc_s" -> "s", "trace.overhead_frac" -> "ratio")

  /** Every per-layer metric, in declaration order, from the per-unit
    * readings of the traced units: the median over units, 0 where
    * absent.
    */
  def metrics(units: Seq[Map[String, Double]]): Seq[PerfBench.Metric] =
    Metrics.map { case (name, unit) =>
      val xs = units.flatMap(_.get(name))
      PerfBench.Metric(name, unit, if (xs.isEmpty) 0.0 else PerfBench.median(xs))
    }

  /** Plan and execution readings over a unit's span tree. Analysis
    * adds what a span recorded for frames analyzed before their
    * execution started.
    */
  def planAndExec(tr: Trace, unit: Trace#Span, cores: Int): Map[String, Double] = {
    val tree = subtree(tr, unit)
    val execs = tree.flatMap(_.executions)
    def phase(p: String) = execs.map(_.phases.getOrElse(p, 0.0)).sum
    def census(k: String) = execs.map(_.census.getOrElse(k, 0L)).sum.toDouble
    val busy = tree.map(_.counters.busyMs).sum / 1e3
    Map(
      "plan.analysis_s" -> (phase("analysis") + tree.map(_.attrs.getOrElse("analysis_s", 0.0)).sum),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "plan.exchanges" -> census("exchanges"),
      "plan.sort_aggregates" -> census("sort_aggregates"),
      "plan.smj" -> census("smj"),
      "plan.fallback_exprs" -> census("fallback_exprs"),
      "exec.jobs" -> tree.map(_.counters.jobs).sum.toDouble,
      "exec.tasks" -> tree.map(_.counters.tasks).sum.toDouble,
      "exec.task_busy_s" -> busy,
      "exec.busy_frac" -> busy / (unit.seconds * cores),
      "exec.shuffle_write_bytes" -> tree.map(_.counters.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> tree.map(_.counters.spill).sum.toDouble,
      "exec.gc_s" -> tree.map(_.counters.gcMs).sum / 1e3)
  }

  def subtree(tr: Trace, s: Trace#Span): Seq[Trace#Span] = {
    val byParent = tr.all.groupBy(_.parent)
    def go(x: Trace#Span): Seq[Trace#Span] =
      x +: byParent.getOrElse(x.id, Nil).flatMap(go)
    go(s)
  }

  def dirBytes(dir: String): Double =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(_.isFile).map(_.length).sum.toDouble
}

/** One ETL chain as `EtlMain.run` composes it — extract, build, load —
  * with a span around each call, then two probes outside the chain:
  * the zip parse and the transform, each executed to the full-row noop
  * sink so their time is measured without the load.
  */
final class TracedEtl(spark: SparkSession, tr: Trace, cores: Int,
                      fetcher: graft.sources.Fetcher) {
  import PerfBench.RunTs

  def chain(cfg: EtlMain.EtlConfig, csvDir: String)
      : (LoadOrchestrator.LoadReport, Double, Map[String, Double]) = {
    var loinc, hierarchy, out: DataFrame = null
    val props = new java.util.Properties()
    props.setProperty("user", cfg.pgUser)
    props.setProperty("password", cfg.pgPassword)
    var extract, build, load: Trace#Span = null
    val (report, unit) = tr.span("chain", "etl") { c =>
      tr.span("extract", "sources") { s =>
        extract = s
        val (l, h) = EtlMain.extract(spark, fetcher, cfg)
        loinc = l; hierarchy = h
      }
      out = tr.span("build", "transform") { s =>
        build = s
        I2b2Pipeline.build(loinc, hierarchy, I2b2Config(runTimestamp = RunTs,
          bugCompatFullname = cfg.bugCompatFullname))
      }
      val r = tr.span("load", "load") { s =>
        load = s
        LoadOrchestrator.load(out, cfg.jdbcUrl.get, cfg.table, props, RunTs,
          cfg.csvOut)
      }
      (r, c)
    }

    val parse = tr.span("zip_parse", "sources") { s =>
      noop(loinc); noop(hierarchy); s
    }
    val rowsParsed = loinc.count() + hierarchy.count()
    val exec = tr.span("transform_exec", "transform") { s => noop(out); s }

    val loadExecs = load.executions
    val cacheFill = loadExecs.filter(e => e.func == "count")
    val insert = loadExecs.filter(_.root.startsWith("SaveIntoDataSourceCommand:Jdbc"))
    val csv = loadExecs.filter(_.root == "InsertIntoHadoopFsRelationCommand")
    val cacheFillS = cacheFill.map(_.seconds).sum
    val insertS = insert.map(_.seconds).sum
    val csvS = csv.map(_.seconds).sum
    val insertBusy = insert.map(e => tr.busyWithin(e)).sum
    val planS = build.seconds + cacheFill.map(e =>
      Seq("analysis", "optimization", "planning")
        .map(e.phases.getOrElse(_, 0.0)).sum).sum
    val ec = exec.counters
    val readings = Map(
      "sources.extract_s" -> extract.seconds,
      "sources.zip_parse_s" -> parse.seconds,
      "sources.rows_parsed" -> rowsParsed.toDouble,
      "transform.plan_s" -> planS,
      "transform.exec_s" -> exec.seconds,
      "transform.task_busy_s" -> ec.busyMs / 1e3,
      "transform.busy_frac" -> ec.busyMs / 1e3 / (exec.seconds * cores),
      "transform.shuffle_bytes" -> ec.shuffleWrite.toDouble,
      "transform.spill_bytes" -> ec.spill.toDouble,
      "transform.gc_s" -> ec.gcMs / 1e3,
      "load.total_s" -> load.seconds,
      "load.cache_fill_s" -> cacheFillS,
      "load.jdbc_insert_s" -> insertS,
      "load.insert_rows_per_s" -> report.rowsWritten / insertS,
      "load.insert_busy_frac" -> insertBusy / (insertS * cores),
      "load.jdbc_ctl_s" -> (load.seconds - cacheFillS - insertS - csvS),
      "load.csv_export_s" -> csvS,
      "load.csv_bytes" -> Layers.dirBytes(csvDir)) ++
      Layers.planAndExec(tr, unit, cores)
    (report, unit.seconds, readings)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
