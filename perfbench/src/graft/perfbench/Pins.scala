package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline.{I2b2Config, I2b2Pipeline, LoadOrchestrator}
import graft.queries.LoincShim

/** Pin files: the fingerprints the output checks compare against, one
  * `key<TAB>rows:hash-sum:hash-xor` line each (see
  * [[Checks.fingerprint]]).
  *
  *  - `etl.tsv`: per ETL shape, the rows the table must hold for the run
  *    timestamp — the in-process `I2b2Pipeline.build` over the shim
  *    frames of the synthesized `part`, timestamps cast as the load
  *    casts them, and for a reload the first release's IMPORT_DATE.
  *  - `registry_sf0.001.tsv`: per sampled query, its result over the
  *    committed sf0.001 fixture.
  *
  * `main` rewrites both from the current code:
  * `python3 perfbench/run.py --write-pins`.
  */
object Pins {
  val EtlFile = "perfbench/pins/etl.tsv"
  val RegistryFile = "perfbench/pins/registry_sf0.001.tsv"

  def read(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap

  def write(path: String, entries: Seq[(String, String)]): Unit = {
    val lines = "# key\trows:hash-sum:hash-xor" +:
      entries.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def etlExpected(spark: SparkSession, shape: EtlShape): String = {
    val part = Inputs.part(spark, shape.base, shape.replicas)
    val out = LoadOrchestrator.castRunTimestamps(I2b2Pipeline.build(
      LoincShim.loinc(part), LoincShim.hierarchy(part),
      I2b2Config(runTimestamp = PerfBench.RunTs, bugCompatFullname = true)))
    val stamped =
      if (shape.reload)
        out.withColumn("IMPORT_DATE", EtlWorkload.instant(PerfBench.FirstTs))
      else out
    Checks.fingerprint(Checks.loadedShape(stamped))
  }

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(".bench_build", "work", "pins").toAbsolutePath
    val spark = PerfBench.session(cores, work)
    try {
      val shapes = for (w <- EtlShape.Workloads; tiny <- Seq(false, true))
        yield EtlShape.of(w, tiny)
      write(EtlFile, shapes.map(s => s.key -> etlExpected(spark, s)))
      graft.Bench.prepareSelfContainedRun()
      val dir = Paths.get(RegistryWorkload.Fixture).toAbsolutePath.toString
      val fps = RegistryWorkload.fingerprints(spark, dir, RegistryWorkload.sample)
      val failures = fps.collect { case (n, Left(e)) => s"$n: $e" }
      require(failures.isEmpty, failures.mkString("\n"))
      write(RegistryFile, fps.collect { case (n, Right(fp)) => n -> fp })
    } finally {
      spark.stop()
      Checks.deleteTree(work.toFile)
    }
  }
}
