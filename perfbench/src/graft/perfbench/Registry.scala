package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.{CoreQueries, ExtensionQueries, RelationalQueries}

/** Query families: the `graft.ext` module a query name maps to. */
object Families {
  val all: Seq[String] = Seq("core", "relational", "text", "mm", "dedup",
    "sim", "graph", "time", "curate", "other")

  private val prefixes: Seq[(String, Seq[String])] = Seq(
    "mm" -> Seq("mm_"),
    "dedup" -> Seq("dedup_"),
    "sim" -> Seq("sim_", "emb_"),
    "graph" -> Seq("graph_"),
    "time" -> Seq("ts_", "ew_"),
    "curate" -> Seq("curate_", "quality_", "sample_", "split_", "pack_"),
    "text" -> Seq("text_", "vocab_", "corpus_"))

  def of(query: String): String =
    if (CoreQueries.queries.contains(query)) "core"
    else if (RelationalQueries.queries.contains(query)) "relational"
    else prefixes.collectFirst {
      case (f, ps) if ps.exists(query.startsWith) => f
    }.getOrElse("other")
}

/** Passes over a fixed sample of the query registry at sf0.001, each
  * sampled query written to the full-row `noop` sink. No JDBC is
  * touched.
  *
  * The sample is every `SampleEvery`-th query in name order, which
  * spans every family; the seed draws the order the sample runs in,
  * a new order for every pass, so one order's effect on the timings is
  * spread over the run's passes.
  * Set-up evicts every shared stage and runs the check pass: each
  * sampled query through `Checks.fingerprint`, compared with the pin
  * file. That pass rebuilds the stages the sample consumes, as a
  * session's first queries do, so the timed passes measure queries
  * over a warm stage cache. The JIT is still warming for several
  * passes after it; the run spends its time on more timed passes
  * rather than on untimed ones, and reports medians over them. A full
  * GC runs before every timed pass. A traced run times the stage
  * rebuild in a span of its own.
  */
object RegistryWorkload {
  import PerfBench._

  val SampleEvery = 14
  val Fixture = "perfbench/data/sf0.001"
  // a warm pass takes about this long on a 4-core box
  val NominalPassS = 7.0
  // an untraced run times at least this many passes: 60 query timings,
  // so 15 lie beyond the 75th percentile
  val MinPasses = 4

  type Query = (String, (SparkSession, String) => DataFrame)

  def sample: Seq[Query] =
    SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .collect { case (q, i) if i % SampleEvery == 0 => q }

  /** The orders of one run's passes, drawn from the seed; the
    * smoke-test size keeps three queries.
    */
  def orders(o: Opts): Iterator[Seq[Query]] = {
    val rng = new scala.util.Random(o.seed)
    val queries = if (o.tiny) sample.take(3) else sample
    Iterator.continually(rng.shuffle(queries))
  }

  /** Fingerprints every sampled query, stages evicted first: name →
    * fingerprint, or the failure.
    */
  def fingerprints(spark: SparkSession, dir: String, queries: Seq[Query])
      : Seq[(String, Either[String, String])] = {
    ExtensionQueries.evictStages(spark, dir)
    queries.map { case (name, fn) =>
      name -> (try Right(Checks.fingerprint(fn(spark, dir)))
        catch { case e: Exception => Left(e.toString) })
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val o = ctx.opts
    // stages and staged format fixtures are computed by this run, not
    // read from an earlier run's files
    graft.Bench.prepareSelfContainedRun()
    val dir = Paths.get(Fixture).toAbsolutePath.toString
    val pins = Pins.read(o.pins)
    val order = orders(o)
    val (checked, checkS) = seconds(fingerprints(spark, dir, order.next()))
    val bad = pinProblems(checked, pins)
    bad.foreach(p => log(s"check failed: $p"))
    val setupS = ctx.sessionS + checkS
    log(f"setup $setupS%.2f s (session ${ctx.sessionS}%.2f, check pass $checkS%.2f)")
    // a traced run compares one untraced pass with one traced pass, so
    // both follow an untimed pass
    if (o.trace) runPass(spark, dir, order.next(), (_, _, run) => run())

    val passWalls, tracedWalls = ArrayBuffer.empty[Double]
    val queryTimes = ArrayBuffer.empty[Double]
    val readings = ArrayBuffer.empty[Map[String, Double]]
    var attempted, failed = 0L
    var pass = 0
    val passes =
      if (o.trace) units(o, NominalPassS)
      else math.max(MinPasses, units(o, NominalPassS))
    while (pass < passes) {
      val traced = ctx.trace.filter(_ => pass > 0)
      if (pass == 1) traced.foreach(_.attach())
      // start every timed pass from a collected heap
      System.gc()
      val queries = order.next()
      val (times, wall, reading) = traced match {
        case Some(tr) => tracedPass(spark, tr, dir, queries, ctx.cores)
        case None =>
          val (ts, w) = seconds(runPass(spark, dir, queries, (_, _, run) => run()))
          (ts, w, Map.empty[String, Double])
      }
      attempted += times.length
      failed += times.count(_.isEmpty)
      if (traced.isDefined) { tracedWalls += wall; readings += reading }
      else {
        passWalls += wall
        queryTimes ++= times.flatten
        log(queries.map(_._1).zip(times).map { case (n, t) =>
          f"$n=${t.getOrElse(Double.NaN)}%.3f" }.mkString("query seconds: ", " ", ""))
      }
      pass += 1
    }
    // a pin mismatch fails its query once per run
    failed += bad.length
    log(f"$pass passes, untraced ${passWalls.map(w => f"$w%.2f").mkString(" ")}" +
      f", traced ${tracedWalls.map(w => f"$w%.2f").mkString(" ")}")

    val metrics = ctx.trace match {
      case Some(tr) =>
        readings(0) = readings(0) ++ stageRebuild(spark, tr, dir, order.next())
        tr.detach()
        val overhead = median(tracedWalls.toSeq) / median(passWalls.toSeq) - 1
        Layers.metrics(readings.toSeq.map(_ + ("trace.overhead_frac" -> overhead)))
      case None =>
        val rows = checked.collect { case (_, Right(fp)) => fp.takeWhile(_ != ':').toLong }.sum
        val wall = median(passWalls.toSeq)
        endToEnd(wall, rows / wall, queryTimes.toSeq, setupS)
    }
    Outcome(attempted, failed, metrics)
  }

  /** A failed query or a result that differs from its pin. */
  def pinProblems(checked: Seq[(String, Either[String, String])],
                  pins: Map[String, String]): Seq[String] = checked.flatMap {
    case (name, Left(err)) => Some(s"$name failed: $err")
    case (name, Right(fp)) if !pins.get(name).contains(fp) =>
      Some(s"$name fingerprint $fp != pinned ${pins.getOrElse(name, "(none)")}")
    case _ => None
  }

  /** One pass: every sampled query to the noop sink through `around`
    * (which may wrap it in a span). Returns each query's seconds, None
    * where it failed.
    */
  private def runPass(spark: SparkSession, dir: String, queries: Seq[Query],
                      around: (String, DataFrame, () => Unit) => Unit)
      : Seq[Option[Double]] =
    queries.map { case (name, fn) =>
      try {
        val (_, s) = seconds {
          val df = fn(spark, dir)
          around(name, df, () => df.write.format("noop").mode("overwrite").save())
        }
        Some(s)
      } catch {
        case e: Exception => log(s"$name failed: $e"); None
      }
    }

  private def tracedPass(spark: SparkSession, tr: Trace, dir: String,
                         queries: Seq[Query], cores: Int)
      : (Seq[Option[Double]], Double, Map[String, Double]) = {
    val (times, unit) = tr.span("pass", "registry") { p =>
      (runPass(spark, dir, queries, (name, df, run) =>
        tr.span(name, "query") { s =>
          // a frame is analyzed when it is built, before the write's
          // own execution (and its planning tracker) starts
          s.attrs("analysis_s") =
            df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
          run()
        }), p)
    }
    val querySpans = Layers.subtree(tr, unit).filter(_.kind == "query")
    val families = querySpans.groupBy(q => Families.of(q.name))
      .map { case (f, qs) => s"family.${f}_s" -> qs.map(_.seconds).sum }
    val reading = Families.all.map(f => s"family.${f}_s" -> 0.0).toMap ++
      families ++ Layers.planAndExec(tr, unit, cores)
    (times, unit.seconds, reading)
  }

  /** Evicts every shared stage and runs the sample once more in a span,
    * so the stages it consumes rebuild; a stage materializes through an
    * eager `localCheckpoint`, whose executions are the build times.
    */
  private def stageRebuild(spark: SparkSession, tr: Trace, dir: String,
                           queries: Seq[Query]): Map[String, Double] = {
    val span = tr.span("stage_rebuild", "stages") { s =>
      ExtensionQueries.evictStages(spark, dir)
      runPass(spark, dir, queries, (_, _, run) => run())
      s
    }
    val builds = Layers.subtree(tr, span).flatMap(_.executions)
      .filter(_.func.toLowerCase.contains("checkpoint")).map(_.seconds)
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble
    Map("stages.build_s" -> builds.sum,
      "stages.max_build_s" -> (if (builds.isEmpty) 0.0 else builds.max),
      "stages.cached_bytes" -> cached)
  }
}
