package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-independent fingerprints of engine outputs. */
object Checks {

  /** (rows, sum of per-row xxhash64) — equal for equal multisets of rows
    * in any order or partitioning. Evaluating it materializes every column.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private val Sig = new MathContext(6)

  /** Canonical text of a collected value: doubles to six significant
    * digits (summation order may move the last bits), maps by sorted key,
    * arrays and structs in their own order.
    */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(Sig).stripTrailingZeros.toPlainString

  /** (rows, order-independent hash) of collected query output. */
  def rowsHash(rows: Seq[Row]): (Long, String) = {
    var h = 0L
    rows.foreach(r => h += scala.util.hashing.MurmurHash3.stringHash(render(r)).toLong * 0x9E3779B97F4A7C15L)
    (rows.length.toLong, java.lang.Long.toHexString(h))
  }
}
