package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{EtlMain, I2b2Config, I2b2Pipeline, LoadOrchestrator}
import graft.queries.LoincShim

/** The repository benchmark: the reference's extract → transform →
  * load chain, a reload into a populated table, and a pass over the
  * query registry. See perfbench/NOTES.md for what each workload and
  * metric means.
  *
  * {{{
  * PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           [--tiny] [--pins <registry pin file>]
  * }}}
  *
  * The last line of standard output is one JSON object with the keys
  * `correct`, `attempted`, `failed` and `metrics`. Any failed output
  * check makes the exit code 1.
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, tiny: Boolean, pins: String)

  final case class Metric(name: String, unit: String, value: Double)

  final case class Outcome(attempted: Long, failed: Long,
                           metrics: Seq[Metric])

  /** Every workload; BENCHMARK.json declares all but `etl_reload_20k`,
    * which does not fit the measurement's time budget (NOTES.md).
    */
  val Workloads: Seq[String] =
    EtlShape.Workloads :+ "registry_sf0.001"

  val FirstTs = "01-01-2026 00:00:00"
  val RunTs = "02-01-2026 00:00:00"
  val Table = "I2B2"

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    val outcome = run(o, t0)
    println(render(outcome))
    sys.exit(if (outcome.failed == 0) 0 else 1)
  }

  def run(o: Opts, t0: Long): Outcome = {
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(".bench_build", "work", o.workload).toAbsolutePath
    Checks.deleteTree(work.toFile)
    Files.createDirectories(work)
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (o.trace) Some(new Trace(spark)) else None
    try {
      val ctx = Ctx(spark, o, cores, work, sessionS, trace)
      o.workload match {
        case "registry_sf0.001" => RegistryWorkload.run(ctx)
        case etl => EtlWorkload.run(ctx, EtlShape.of(etl, o.tiny))
      }
    } finally {
      trace.foreach(_.write(Paths.get("target", "perfbench",
        s"trace-${o.workload}-seed${o.seed}.jsonl")))
      spark.stop()
      Checks.deleteTree(work.toFile)
    }
  }

  /** The one session configuration every entry point here uses:
    * `local[cores]`, as many shuffle partitions as cores, UTC, and
    * Spark's scratch space under `work`.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class Ctx(spark: SparkSession, opts: Opts, cores: Int,
                       work: Path, sessionS: Double, trace: Option[Trace])

  def parse(args: Array[String]): Opts = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"$msg\nusage: --workload ${Workloads.mkString("|")} --seed N " +
        "--seconds S --trace 0|1 [--tiny] [--pins FILE]")
    var o = Opts("", 0L, 10.0, trace = false, tiny = false,
      pins = Pins.RegistryFile)
    var i = 0
    while (i < args.length) {
      def value: String = {
        if (i + 1 >= args.length) fail(s"missing value for ${args(i)}")
        i += 1; args(i)
      }
      args(i) match {
        case "--workload" => o = o.copy(workload = value)
        case "--seed" => o = o.copy(seed = value.toLong)
        case "--seconds" => o = o.copy(seconds = value.toDouble)
        case "--trace" => o = o.copy(trace = value == "1")
        case "--tiny" => o = o.copy(tiny = true)
        case "--pins" => o = o.copy(pins = value)
        case other => fail(s"unknown argument: $other")
      }
      i += 1
    }
    if (!Workloads.contains(o.workload)) fail(s"unknown workload '${o.workload}'")
    o
  }

  def render(out: Outcome): String = {
    val ms = out.metrics.map { m =>
      s"${Json.str(m.name)}: {\"value\": ${java.lang.Double.toString(m.value)}, " +
        s"\"unit\": ${Json.str(m.unit)}}"
    }
    s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** The end-to-end metrics of an untraced run. The query tail is the
    * 75th percentile: a registry run has 30 query timings, and a higher
    * percentile would rest on fewer than seven of them.
    */
  def endToEnd(wallS: Double, rowsPerS: Double, queryS: Seq[Double],
               setupS: Double): Seq[Metric] = Seq(
    Metric("wall_s", "s", wallS),
    Metric("rows_per_s", "1/s", rowsPerS),
    Metric("query_p50_s", "s", quantile(queryS, 0.5)),
    Metric("query_p75_s", "s", quantile(queryS, 0.75)),
    Metric("setup_s", "s", setupS))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Units a run times: a traced run times one untraced unit and one
    * traced unit; otherwise enough units of `nominalS` seconds to fill
    * `--seconds`. The count does not depend on measured times, so a
    * parent and a change time the same work.
    */
  def units(o: Opts, nominalS: Double): Int =
    if (o.trace) 2 else math.max(1, math.ceil(o.seconds / nominalS).toInt)

  def seconds[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e9)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** `base` parts replicated `replicas` times, one code per part; a
  * chain takes about `nominalS` seconds on a 4-core box.
  */
final case class EtlShape(base: Int, replicas: Int, reload: Boolean,
                          nominalS: Double) {
  def key: String = s"etl_base${base}_x${replicas}" + (if (reload) "_reload" else "")
}

object EtlShape {
  val Workloads: Seq[String] = Seq("etl_full_100k", "etl_reload_20k")

  /** The smoke-test size is sf0.001's 200 parts. */
  def of(workload: String, tiny: Boolean): EtlShape = workload match {
    case "etl_full_100k" =>
      if (tiny) EtlShape(200, 1, reload = false, 1.0)
      else EtlShape(20000, 5, reload = false, 10.0)
    case "etl_reload_20k" =>
      if (tiny) EtlShape(200, 1, reload = true, 1.0)
      else EtlShape(20000, 1, reload = true, 3.0)
  }
}

/** `EtlMain.run` through a `StubFetcher` into a fresh in-memory Derby
  * database per chain, plus the CSV export. The reload shape first
  * loads the previous release (untimed, earlier run timestamp), so the
  * timed chain takes the existing-table path: probe, MIN(IMPORT_DATE),
  * collision probe and stamped append.
  */
object EtlWorkload {
  import PerfBench._

  // Spark's built-in Derby dialect maps StringType to CLOB, which
  // Derby refuses to bind as NULL into the VARCHAR columns of the i2b2
  // DDL; map strings to VARCHAR, as LoadSpec does.
  org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
    new org.apache.spark.sql.jdbc.JdbcDialect {
      override def canHandle(url: String): Boolean =
        url.startsWith("jdbc:derby")
      override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
          : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
        case org.apache.spark.sql.types.StringType =>
          Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(4000)",
            java.sql.Types.VARCHAR))
        case _ => None
      }
    })

  private val user = "bench"

  /** The credentials `EtlMain.run` connects with; Derby scopes the
    * table to the user's schema, so every read-back uses them too.
    * The JDBC writer opens one connection per running task, so
    * `local[cores]` caps the concurrent connections at `cores`.
    */
  def jdbcProps: Properties = {
    val p = new Properties()
    p.setProperty("user", user)
    p.setProperty("password", user)
    p
  }

  final class Chain(ctx: Ctx, shape: EtlShape, val release: Inputs.Release,
                    part: DataFrame) {
    private val spark = ctx.spark
    val props: Properties = jdbcProps

    /** The previous release, as the in-process transform renders it. */
    lazy val firstRelease: DataFrame = I2b2Pipeline.build(
      LoincShim.loinc(part), LoincShim.hierarchy(part),
      I2b2Config(runTimestamp = FirstTs, bugCompatFullname = true)).cache()

    /** Row count and fingerprint the table must hold for this run's
      * timestamp, from the pin file (see [[Pins.etlExpected]]).
      */
    lazy val expected: (Long, String) = {
      val fp = Pins.read(Pins.EtlFile).getOrElse(shape.key,
        throw new IllegalStateException(s"no pin for ${shape.key} in ${Pins.EtlFile}"))
      (fp.takeWhile(_ != ':').toLong, fp)
    }

    def config(db: String, dir: Path): EtlMain.EtlConfig = EtlMain.EtlConfig(
      loincUser = user, loincPassword = user, pgUser = user, pgPassword = user,
      jdbcUrl = Some(Checks.derbyUrl(db)), table = Table,
      csvOut = Some(dir.resolve("csv").toString),
      workDir = Some(dir.resolve("landing").toString))

    /** Loads the previous release into `db` (reload shape only). */
    def prepare(db: String): Unit =
      if (shape.reload)
        LoadOrchestrator.load(firstRelease, Checks.derbyUrl(db), Table,
          props, FirstTs)

    def runUntraced(db: String, dir: Path): (LoadOrchestrator.LoadReport, Double) =
      seconds(EtlMain.run(spark, release.fetcher, config(db, dir), RunTs))

    /** Output checks for one chain; returns the problems found. */
    def check(db: String, dir: Path, report: LoadOrchestrator.LoadReport)
        : Seq[String] = {
      val (rows, fp) = expected
      val p = ArrayBuffer.empty[String]
      if (report.rowsWritten != rows || report.verifiedCount != rows)
        p += s"rows written ${report.rowsWritten}, verified " +
          s"${report.verifiedCount}, expected $rows"
      if (report.createdTable == shape.reload)
        p += s"createdTable=${report.createdTable} on a " +
          (if (shape.reload) "populated" else "empty") + " database"
      val loaded = Checks.readTable(spark, db, Table, props)
        .filter(col("UPDATE_DATE") === instant(RunTs))
      val got = Checks.fingerprint(Checks.loadedShape(loaded))
      if (got != fp) p += s"table fingerprint $got != expected $fp"
      if (shape.reload) {
        val firstTs = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
        if (!report.firstImportDate.contains(firstTs))
          p += s"first import date ${report.firstImportDate} != $firstTs"
        val off = Checks.queryLong(db, props,
          s"SELECT COUNT(*) FROM $Table WHERE IMPORT_DATE <> ?", firstTs)
        if (off != 0) p += s"$off rows carry another IMPORT_DATE"
      }
      p ++= Checks.csvProblems(spark, dir.resolve("csv").toString, rows)
      p.toSeq
    }

    def cleanup(db: String, dir: Path): Unit = {
      try Checks.dropDerby(db, props)
      finally Checks.deleteTree(dir.toFile)
    }
  }

  def instant(ts: String) = to_timestamp(lit(ts), "dd-MM-yyyy HH:mm:ss")

  def run(ctx: Ctx, shape: EtlShape): Outcome = {
    val spark = ctx.spark
    val o = ctx.opts
    val part = Inputs.part(spark, shape.base, shape.replicas)

    // set-up: input synthesis (median of three), then one untimed
    // chain over the same release, so the timed chains run warm
    val synth = (1 to 3).map(_ => seconds(Inputs.release(part, o.seed)))
    val release = synth.last._1
    val synthS = median(synth.map(_._2))
    val chain = new Chain(ctx, shape, release, part)
    val (_, warmS) = seconds {
      val (db, dir) = ("pbwarm", ctx.work.resolve("warm"))
      try {
        chain.prepare(db)
        chain.runUntraced(db, dir)
      } finally chain.cleanup(db, dir)
    }
    val setupS = ctx.sessionS + synthS + warmS
    log(f"setup ${setupS}%.2f s (session ${ctx.sessionS}%.2f, synthesis " +
      f"${synthS}%.2f, warm-up ${warmS}%.2f); ${release.codes} codes, " +
      s"Loinc.csv ${release.loincCsvBytes} B, hierarchy ${release.hierarchyCsvBytes} B")

    val walls = ArrayBuffer.empty[Double]
    val rates = ArrayBuffer.empty[Double]
    // a traced run times one untraced chain first: the difference is
    // the tracing overhead
    val tracedWalls = ArrayBuffer.empty[Double]
    val readings = ArrayBuffer.empty[Map[String, Double]]
    val count = units(o, shape.nominalS)
    var attempted, failed = 0L
    while (attempted < count) {
      val db = s"pb$attempted"
      val dir = ctx.work.resolve(s"chain$attempted")
      val problems = try {
        chain.prepare(db)
        // start every timed chain from a collected heap
        System.gc()
        val traced = ctx.trace.filter(_ => attempted > 0)
        val report = traced match {
          case Some(tr) =>
            if (attempted == 1) tr.attach()
            val (r, w, m) = new TracedEtl(spark, tr, ctx.cores, release.fetcher)
              .chain(chain.config(db, dir), dir.resolve("csv").toString)
            tracedWalls += w
            readings += m + ("sources.fetch_bytes" -> release.fetchBytes.toDouble)
            r
          case None =>
            val (r, w) = chain.runUntraced(db, dir)
            walls += w
            rates += r.verifiedCount / w
            r
        }
        chain.check(db, dir, report)
      } catch {
        case e: Exception => Seq(s"chain failed: $e")
      } finally chain.cleanup(db, dir)
      attempted += 1
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => log(s"check failed: $p"))
      }
    }
    log(f"$attempted chains, untraced ${walls.map(w => f"$w%.2f").mkString(" ")}" +
      f", traced ${tracedWalls.map(w => f"$w%.2f").mkString(" ")}")

    val metrics = ctx.trace match {
      case Some(tr) =>
        tr.detach()
        val overhead = median(tracedWalls.toSeq) / median(walls.toSeq) - 1
        Layers.metrics(readings.toSeq.map(_ + ("trace.overhead_frac" -> overhead)))
      case None =>
        endToEnd(median(walls.toSeq), median(rates.toSeq), walls.toSeq, setupS)
    }
    Outcome(attempted, failed, metrics)
  }
}
