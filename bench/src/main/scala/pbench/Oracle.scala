package pbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row

/** Comparison of a Spark result with the DuckDB oracle's frozen result.
  *
  * Normalization follows `scripts/check.py`: columns are compared by
  * sorted name, rows in a canonical order (so row order never matters),
  * and floating values exactly, with a NULL on one side equal to a NaN on
  * the other (pandas holds both as NaN). Canonical values are: null,
  * java.lang.Long (integral), java.lang.Double (floating), String (also
  * dates, as yyyy-MM-dd, and timestamps, as UTC yyyy-MM-dd HH:mm:ss.SSSSSS),
  * java.lang.Boolean and Vector (arrays). There is no tolerance.
  */
object Oracle {

  final case class Table(columns: Seq[String], rows: Seq[Vector[Any]])

  final case class Outcome(ok: Boolean, message: String)

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Canonical form of one value Spark returned. */
  def canon(v: Any): Any = v match {
    case null => null
    case b: java.lang.Boolean => b
    case x: Byte => java.lang.Long.valueOf(x.toLong)
    case x: Short => java.lang.Long.valueOf(x.toLong)
    case x: Int => java.lang.Long.valueOf(x.toLong)
    case x: Long => java.lang.Long.valueOf(x)
    case x: Float => java.lang.Double.valueOf(x.toDouble)
    case x: Double => java.lang.Double.valueOf(x)
    case x: java.math.BigDecimal => java.lang.Double.valueOf(x.doubleValue)
    case s: String => s
    case t: java.sql.Timestamp => TsFormat.format(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: LocalDateTime => TsFormat.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(canon).toVector
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}: $other")
  }

  /** Canonical form of one value of the frozen oracle JSON. */
  def fromJson(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) java.lang.Boolean.valueOf(n.booleanValue)
    else if (n.isIntegralNumber) {
      if (n.canConvertToLong) java.lang.Long.valueOf(n.longValue)
      else java.lang.Double.valueOf(n.doubleValue)
    } else if (n.isNumber) java.lang.Double.valueOf(n.doubleValue)
    else if (n.isTextual) n.textValue
    else if (n.isArray) {
      val b = Vector.newBuilder[Any]
      n.elements().forEachRemaining(e => b += fromJson(e))
      b.result()
    } else throw new IllegalArgumentException(s"unexpected oracle JSON value: $n")

  /** A Spark result in canonical form, columns sorted by name. */
  def fromSpark(columns: Seq[String], rows: Seq[Row]): Table = {
    val order = columns.zipWithIndex.sortBy(_._1)
    Table(order.map(_._1),
      rows.map(r => order.map { case (_, i) => canon(r.get(i)) }.toVector))
  }

  private def isNullLike(v: Any): Boolean = v match {
    case null => true
    case d: java.lang.Double => d.isNaN
    case _ => false
  }

  /** Rank of a canonical value's kind in the canonical row order. */
  private def kind(v: Any): Int = v match {
    case x if isNullLike(x) => 0
    case _: java.lang.Long | _: java.lang.Double => 1
    case _: String => 2
    case _: java.lang.Boolean => 3
    case _: Vector[_] => 4
  }

  private def num(v: Any): Double = v match {
    case l: java.lang.Long => l.doubleValue
    case d: java.lang.Double => d.doubleValue
  }

  /** Total order over canonical values, used to sort both sides alike. */
  def cmp(a: Any, b: Any): Int = {
    val k = Integer.compare(kind(a), kind(b))
    if (k != 0) k
    else (a, b) match {
      case _ if kind(a) == 0 => 0
      case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
      case _ if kind(a) == 1 => java.lang.Double.compare(num(a), num(b))
      case (x: String, y: String) => x.compareTo(y)
      case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
      case (x: Vector[_], y: Vector[_]) =>
        x.iterator.zip(y.iterator).map { case (p, q) => cmp(p, q) }
          .find(_ != 0).getOrElse(Integer.compare(x.length, y.length))
    }
  }

  def less(a: Any, b: Any): Boolean = cmp(a, b) < 0

  /** Whether two canonical values agree. */
  private def agree(a: Any, b: Any): Boolean = (a, b) match {
    case _ if isNullLike(a) || isNullLike(b) => isNullLike(a) && isNullLike(b)
    case (x: java.lang.Long, y: java.lang.Long) => x == y
    case _ if kind(a) == 1 && kind(b) == 1 => num(a) == num(b)
    case (x: Vector[_], y: Vector[_]) =>
      x.length == y.length && x.iterator.zip(y.iterator).forall { case (p, q) => agree(p, q) }
    case _ => a == b
  }

  def compare(actual: Table, expected: Table): Outcome = {
    if (actual.columns != expected.columns)
      return Outcome(ok = false, s"SCHEMA spark=${actual.columns.mkString(",")} " +
        s"duck=${expected.columns.mkString(",")}")
    if (actual.rows.length != expected.rows.length)
      return Outcome(ok = false, s"ROWS spark=${actual.rows.length} duck=${expected.rows.length}")
    val rowLess = (x: Vector[Any], y: Vector[Any]) => less(x, y)
    val a = actual.rows.toVector.sortWith(rowLess)
    val e = expected.rows.toVector.sortWith(rowLess)
    val mismatch = for {
      i <- a.indices.iterator
      c <- actual.columns.indices.iterator
      if !agree(a(i)(c), e(i)(c))
    } yield s"VALUES col=${actual.columns(c)} row=$i spark=${a(i)(c)} duck=${e(i)(c)}"
    mismatch.nextOption() match {
      case Some(msg) => Outcome(ok = false, msg)
      case None => Outcome(ok = true, "")
    }
  }
}
