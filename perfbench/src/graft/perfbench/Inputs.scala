package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.EtlMain
import graft.queries.LoincShim
import graft.sources.StubFetcher

/** In-process input synthesis for the ETL workloads: no download and
  * no fixture files.
  *
  * `part` is TPC-H-shaped with the value domains of the seed tree's
  * `part` table (two-word names over 8 adjectives × 8 nouns, 25 brands,
  * 6 types). Columns derive from the base key by hashing, so the table
  * is a pure function of its size. Replicas follow `ScaleFixtures`'
  * key-offset rule: replica k carries `p_partkey + k·10_000_000` and
  * copies every other column, so each replica is a disjoint key range
  * with the same per-key shape.
  *
  * A release is the two archives loinc.org serves (`Loinc.csv` and
  * `MultiAxialHierarchy.csv`, each zipped), rendered from the
  * `LoincShim` views of `part`. The seed permutes the `Loinc.csv` row
  * order only: hierarchy order is semantic (R2 last-wins reads file
  * order), so it is written in the shim's `seq` order.
  */
object Inputs {

  val Adjectives: Seq[String] =
    Seq("blue", "old", "red", "large", "hot", "cold", "small", "new")
  val Nouns: Seq[String] =
    Seq("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
  val Types: Seq[String] =
    Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")

  def part(spark: SparkSession, base: Int, replicas: Int): DataFrame = {
    val b = col("id") % base
    val k = (col("id") - b) / base
    def pick(words: Seq[String], salt: Int): org.apache.spark.sql.Column =
      element_at(array(words.map(lit): _*),
        (pmod(xxhash64(b, lit(salt)), lit(words.length.toLong)) + 1)
          .cast("int"))
    spark.range(base.toLong * replicas).select(
      (b + k.cast("long") * 10000000L).as("p_partkey"),
      concat(pick(Adjectives, 1), lit(" "), pick(Nouns, 2)).as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(b, lit(3)), lit(25L)) + 1).cast("string"))
        .as("p_brand"),
      pick(Types, 4).as("p_type"))
  }

  /** One synthesized LOINC release. */
  final case class Release(loincZip: Array[Byte], hierarchyZip: Array[Byte],
                           loincCsvBytes: Long, hierarchyCsvBytes: Long,
                           codes: Long) {
    def fetchBytes: Long = loincZip.length.toLong + hierarchyZip.length

    /** The loinc.org endpoints `EtlMain.extract` posts to, served from
      * memory.
      */
    def fetcher: StubFetcher = new StubFetcher(Map(
      EtlMain.LoginUrl -> Array.emptyByteArray,
      EtlMain.LoincZipUrl -> loincZip,
      EtlMain.HierarchyZipUrl -> hierarchyZip))
  }

  val LoincCols: Seq[String] = Seq("LOINC_NUM", "COMPONENT", "PROPERTY",
    "TIME_ASPCT", "SYSTEM", "SCALE_TYP", "METHOD_TYP", "STATUS")
  val HierarchyCols: Seq[String] =
    Seq("CODE", "CODE_TEXT", "PATH_TO_ROOT", "IMMEDIATE_PARENT")

  def release(part: DataFrame, seed: Long): Release = {
    val loincRows = LoincShim.loinc(part).select(LoincCols.map(col): _*)
      .collect()
    val shuffled = new scala.util.Random(seed).shuffle(loincRows.toSeq)
    val hierRows = LoincShim.hierarchy(part)
      .orderBy(col("seq"), col("CODE"))
      .select(HierarchyCols.map(col): _*)
      .collect().toSeq
    val loincCsv = csv(LoincCols, shuffled)
    val hierCsv = csv(HierarchyCols, hierRows)
    Release(zip("Loinc.csv", loincCsv), zip("MultiAxialHierarchy.csv", hierCsv),
      loincCsv.length.toLong, hierCsv.length.toLong, loincRows.length.toLong)
  }

  /** RFC-4180 rendering; a null cell is an empty unquoted field, which
    * the zip source reads back as null.
    */
  def csv(header: Seq[String], rows: Seq[Row]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(rows.length * 64)
    def cell(v: Any): Unit = v match {
      case null => ()
      case s =>
        val t = s.toString
        if (t.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          sb.append('"').append(t.replace("\"", "\"\"")).append('"')
        else sb.append(t)
    }
    sb.append(header.mkString(",")).append('\n')
    rows.foreach { r =>
      var i = 0
      while (i < r.length) {
        if (i > 0) sb.append(',')
        cell(r.get(i))
        i += 1
      }
      sb.append('\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  def zip(entry: String, content: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(content.length / 4)
    val zos = new ZipOutputStream(bos)
    zos.putNextEntry(new ZipEntry(entry))
    zos.write(content)
    zos.closeEntry()
    zos.close()
    bos.toByteArray
  }
}
