package graft.curve

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Immutable configured interpolation operator — the Spark analogue of the
  * reference's `Interpolador` class (/root/reference/pyield/interpolador.py:10-304):
  * holds one curve as sorted parallel arrays, exposes a scalar call and a
  * Column expression. Curves are tiny (<= a few hundred vertices); instances
  * are serializable so the closure ships the arrays to executors (for large
  * fan-out use `Curve.interpolate`, the relational form).
  *
  * Semantics: 252 business days/year; du below the first vertex -> first
  * rate; above the last -> NaN unless `extrapolar`; exact vertex ->
  * passthrough; negative du -> NaN.
  *
  * A flat-forward curve holds each vertex's growth factor
  * (1 + tx)^(du/252), computed once at construction, so a lookup calls
  * `Math.pow` twice. The factor is the expression a lookup would evaluate
  * for each bracketing vertex, so the result is the same double.
  */
final class Interpolador(
    diasUteis: Seq[Long],
    taxas: Seq[Double],
    metodo: String,
    extrapolar: Boolean = false) extends Serializable {

  require(metodo == "flat_forward" || metodo == "linear", s"metodo: $metodo")

  // cast + drop null/NaN + dedup keep-last + sort, like the reference ctor.
  private val (dus: Array[Long], txs: Array[Double]) = {
    val cleaned = diasUteis.zip(taxas)
      .filterNot { case (_, t) => t.isNaN }
    val lastPerDu = scala.collection.mutable.LinkedHashMap[Long, Double]()
    cleaned.foreach { case (d, t) => lastPerDu(d) = t }
    val sorted = lastPerDu.toArray.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** (1 + txs(k))^(dus(k)/252) per vertex; empty for a linear curve. */
  private val fatores: Array[Double] =
    if (metodo == "linear") Array.emptyDoubleArray
    else {
      val f = new Array[Double](dus.length)
      var k = 0
      while (k < f.length) {
        f(k) = math.pow(1 + txs(k), dus(k) / 252.0)
        k += 1
      }
      f
    }

  def size: Int = dus.length

  private def linear(du: Long, k: Int): Double = {
    val (duJ, txJ) = (dus(k - 1), txs(k - 1))
    val (duK, txK) = (dus(k), txs(k))
    txJ + (du - duJ).toDouble * (txK - txJ) / (duK - duJ).toDouble
  }

  private def flatForward(du: Long, k: Int): Double = {
    val auJ = dus(k - 1) / 252.0
    val auK = dus(k) / 252.0
    val au = du / 252.0
    val faJ = fatores(k - 1)
    val ft = (au - auJ) / (auK - auJ)
    math.pow(faJ * math.pow(fatores(k) / faJ, ft), 1 / au) - 1
  }

  /** Scalar interpolation; NaN for negative du or beyond the long end with
    * extrapolation off.
    */
  def interpolar(du: Long): Double = {
    if (du < 0 || dus.isEmpty) return Double.NaN
    if (du < dus.head) return txs.head
    if (du > dus.last) return if (extrapolar) txs.last else Double.NaN
    val i = java.util.Arrays.binarySearch(dus, du)
    if (i >= 0) return txs(i)
    val k = -(i + 1)
    if (metodo == "linear") linear(du, k) else flatForward(du, k)
  }

  def apply(du: Long): Double = interpolar(du)

  /** Column form (NaN mapped to null at the boundary, like
    * `_interpolar_serie`'s fill_nan(None)). UDF-based: the scalar path is
    * for small curve lookups; the codegen'd relational path for bulk work
    * is [[Curve.interpolate]].
    */
  def interpolarExpr(du: Column): Column = {
    val self = this
    val f = udf((d: java.lang.Long) =>
      if (d == null) None
      else {
        val v = self.interpolar(d.longValue())
        if (v.isNaN) None else Some(v)
      })
    f(du.cast("long"))
  }
}
