package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result: columns sorted by name (as
  * the oracle compare does), each row rendered canonically, rows sorted,
  * then MD5. Floating values are rounded to 10 significant digits so a
  * summation-order ulp cannot flip the digest. */
object Digest {
  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = of(df.schema.fieldNames, df.collect())

  def of(names: Array[String], rows: Array[Row]): Result = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    Result(rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private val mc = new MathContext(10)

  private def canon(v: Any): String = v match {
    case null => "<null>"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new JBigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float if f.isNaN || f.isInfinite => f.toString
    case f: Float => new JBigDecimal(f.toDouble).round(new MathContext(6)).stripTrailingZeros.toPlainString
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case x => x.toString
  }
}
