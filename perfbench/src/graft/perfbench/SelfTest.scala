package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

/** Negative checks of the benchmark's own output checks, at the
  * smoke-test size: `python3 perfbench/run.py --selftest`.
  *
  *  - The ETL pins still equal the in-process `I2b2Pipeline.build`.
  *  - A loaded table passes its check, and fails it once one row is
  *    changed in Derby.
  *  - A registry result passes against its pin, and fails once the pin
  *    is changed.
  *
  * Exits 1 when any expectation fails.
  */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(".bench_build", "work", "selftest").toAbsolutePath
    val spark = PerfBench.session(cores, work)
    val failures = ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      PerfBench.log(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }
    try {
      val etlPins = Pins.read(Pins.EtlFile)
      for (w <- EtlShape.Workloads) {
        val shape = EtlShape.of(w, tiny = true)
        expect(etlPins.get(shape.key).contains(Pins.etlExpected(spark, shape)),
          s"the ${shape.key} pin equals the in-process build")
      }

      val opts = PerfBench.parse(Array("--workload", "etl_full_100k", "--tiny"))
      val ctx = PerfBench.Ctx(spark, opts, cores, work, 0.0, None)
      val shape = EtlShape.of(opts.workload, tiny = true)
      val part = Inputs.part(spark, shape.base, shape.replicas)
      val chain = new EtlWorkload.Chain(ctx, shape, Inputs.release(part, 7L), part)
      val (db, dir) = ("selftest", work.resolve("chain"))
      try {
        val (report, _) = chain.runUntraced(db, dir)
        expect(chain.check(db, dir, report).isEmpty, "a loaded table passes its check")
        val conn = java.sql.DriverManager.getConnection(Checks.derbyUrl(db), chain.props)
        try {
          val st = conn.createStatement()
          st.executeUpdate(s"UPDATE ${PerfBench.Table} SET C_NAME = 'tampered' " +
            s"WHERE C_BASECODE = (SELECT MIN(C_BASECODE) FROM ${PerfBench.Table})")
          st.close()
        } finally conn.close()
        expect(chain.check(db, dir, report).exists(_.contains("fingerprint")),
          "one tampered loaded row fails the table check")
      } finally chain.cleanup(db, dir)

      val fixture = Paths.get(RegistryWorkload.Fixture).toAbsolutePath.toString
      val pins = Pins.read(Pins.RegistryFile)
      val checked = RegistryWorkload.fingerprints(spark, fixture,
        RegistryWorkload.sample.take(2))
      expect(RegistryWorkload.pinProblems(checked, pins).isEmpty,
        "registry results match their pins")
      val (name, fp) = (checked.head._1, pins(checked.head._1))
      val tampered = pins.updated(name, fp.dropRight(1) + (if (fp.last == '1') '2' else '1'))
      expect(RegistryWorkload.pinProblems(checked, tampered).nonEmpty,
        "one tampered fingerprint fails the registry check")
    } finally {
      spark.stop()
      Checks.deleteTree(work.toFile)
    }
    if (failures.nonEmpty) sys.exit(1)
  }
}
