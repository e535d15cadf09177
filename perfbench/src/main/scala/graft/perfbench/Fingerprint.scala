package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a query result: row count, the sorted
  * column names, and the sum (mod 2^64) of a SHA-256 prefix of each row's
  * canonical rendering. `fingerprint.py` renders DuckDB rows by the same
  * rules; keep the two in step.
  *
  * Canonical values: null `N`; boolean `B1`/`B0`; integers `I<decimal>`;
  * floats and decimals as the IEEE-754 bits of the double `F<16 hex>`
  * (-0.0 folded into 0.0, one NaN); strings `S<text>`; dates and
  * timestamps `T<epoch microseconds, UTC>`; bytes `X<hex>`; arrays
  * `L[a,b]`; structs `R{name=v,...}` and maps `M{k=v,...}` with entries
  * sorted. Columns are taken in name order, joined by U+001F.
  */
object Fingerprint {
  final case class Fp(rows: Long, cols: Seq[String], hash: String)

  def of(df: DataFrame): Fp = of(df.columns.toSeq, df.collect().toSeq)

  /** From rows in Spark's internal format, as a `toRdd` drain yields them. */
  def ofInternal(schema: StructType, rows: Seq[InternalRow]): Fp = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    of(schema.fieldNames.toSeq, rows.map(r => toRow(r).asInstanceOf[Row]))
  }

  def of(columns: Seq[String], rows: Seq[Row]): Fp = {
    val cols = columns.sorted
    val idx = cols.map(c => columns.indexOf(c))
    var sum = 0L
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val line = idx.map(i => render(r.get(i))).mkString("\u001f")
      val d = md.digest(line.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    Fp(rows.size.toLong, cols, f"$sum%016x")
  }

  private def float(d: Double): String =
    if (d.isNaN) "FNaN"
    else f"F${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def render(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "B1" else "B0"
    case x: Byte => s"I$x"
    case x: Short => s"I$x"
    case x: Int => s"I$x"
    case x: Long => s"I$x"
    case x: java.math.BigInteger => s"I$x"
    case x: Float => float(x.toDouble)
    case x: Double => float(x)
    case x: java.math.BigDecimal => float(x.doubleValue)
    case x: scala.math.BigDecimal => float(x.toDouble)
    case s: String => s"S$s"
    case d: java.sql.Date => s"T${d.toLocalDate.toEpochDay * 86400000000L}"
    case d: java.time.LocalDate => s"T${d.toEpochDay * 86400000000L}"
    case t: java.sql.Timestamp => s"T${micros(t.toInstant)}"
    case t: java.time.Instant => s"T${micros(t)}"
    case t: java.time.LocalDateTime =>
      s"T${micros(t.toInstant(java.time.ZoneOffset.UTC))}"
    case b: Array[Byte] => "X" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(_.toString))
      names.zip(r.toSeq).sortBy(_._1)
        .map { case (k, x) => s"$k=${render(x)}" }.mkString("R{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }.sorted
        .mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("L[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical rendering for ${other.getClass.getName}")
  }
}
