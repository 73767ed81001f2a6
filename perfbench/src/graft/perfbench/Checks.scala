package graft.perfbench

import java.sql.{DriverManager, SQLException}
import java.util.Properties

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.I2b2Pipeline

/** Output checks. None of them runs inside a timed window. */
object Checks {

  /** Order-independent content digest of a frame: row count, the sum
    * and the xor of one 64-bit hash per row. Every column takes part
    * with a null flag beside it (a bare hash skips nulls, so
    * `(null, "a")` and `("a", null)` would collide). Floating-point
    * values are hashed at 9 significant digits, so a different
    * summation order in a parallel aggregate does not move the digest.
    */
  def fingerprint(df: DataFrame): String = {
    val parts = df.schema.fields.toSeq.flatMap { f =>
      val c = col(s"`${f.name}`")
      Seq(normalized(c, f.dataType), c.isNull)
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))),
        bit_xor(col("h")))
      .head()
    val sumPart = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val xorPart = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$sumPart:$xorPart"
  }

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => normalized(x, et))
    case st: StructType =>
      if (st.isEmpty) c.cast(StringType)
      else struct(st.fields.toSeq.map(f =>
        normalized(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, vt, _) =>
      array_sort(map_entries(transform_values(c, (_, v) => normalized(v, vt))))
        .cast(StringType)
    case _: BinaryType => sha2(c, 256)
    case _ => c
  }

  /** The loaded i2b2 columns in DDL order, rendered as strings — the
    * shape both the expected frame and the Derby read-back are
    * fingerprinted in, so JDBC type widening cannot move the digest.
    */
  def loadedShape(df: DataFrame): DataFrame =
    df.select(I2b2Pipeline.outputCols.map(c => col(c).cast(StringType).as(c)): _*)

  def derbyUrl(db: String): String = s"jdbc:derby:memory:$db;create=true"

  /** Drops an in-memory Derby database. Derby reports a successful
    * drop as SQLState 08006; anything else is a real failure.
    */
  def dropDerby(db: String, props: Properties): Unit =
    try {
      DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true", props)
        .close()
      throw new IllegalStateException(s"Derby did not drop $db")
    } catch {
      case e: SQLException if e.getSQLState == "08006" => ()
    }

  def readTable(spark: SparkSession, db: String, table: String,
                props: Properties): DataFrame =
    spark.read.jdbc(derbyUrl(db), table, props)

  def queryLong(db: String, props: Properties, sql: String,
                args: Any*): Long = {
    val conn = DriverManager.getConnection(derbyUrl(db), props)
    try {
      val ps = conn.prepareStatement(sql)
      try {
        args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
        val rs = ps.executeQuery()
        rs.next(); rs.getLong(1)
      } finally ps.close()
    } finally conn.close()
  }

  /** The CSV export: one header line naming the i2b2 columns in DDL
    * order, and `rows` records after it.
    */
  def csvProblems(spark: SparkSession, dir: String, rows: Long): Seq[String] = {
    val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    if (parts.length != 1)
      return Seq(s"csv: expected one part file under $dir, found ${parts.length}")
    val src = scala.io.Source.fromFile(parts.head, "UTF-8")
    val header = try src.getLines().nextOption().getOrElse("") finally src.close()
    val want = I2b2Pipeline.outputCols.mkString(",")
    val n = spark.read.option("header", "true").option("multiLine", "true")
      .csv(parts.head.getPath).count()
    (if (header != want) Seq(s"csv header '$header' != '$want'") else Nil) ++
      (if (n != rows) Seq(s"csv has $n rows, expected $rows") else Nil)
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
