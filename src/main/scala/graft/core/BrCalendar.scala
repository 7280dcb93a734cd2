package graft.core

import java.time.LocalDate
import java.util.Arrays

/** Brazilian business-day calendar with the dual holiday regime.
  *
  * Semantics follow the reference toolkit's business-day layer
  * (see /root/reference/pyield/du/core.py:20-25,89-220 and
  * /root/reference/pyield/du/feriados/feriados_br.py:10-72):
  *
  *   - Two national holiday lists exist: the "old" regime (valid for dates
  *     strictly before 2023-12-26) and the "new" regime (2023-12-26 onward,
  *     which adds the Zumbi national holiday on Nov 20). The regime is chosen
  *     PER ROW from the anchor date (`inicio` for counts, the date itself for
  *     shifts/predicates).
  *   - `contar(start, end)`: business days in [start, end) — start inclusive,
  *     end exclusive; negative when start > end.
  *   - `deslocar(date, n, rollForward)`: roll a non-business date to the
  *     next/previous business day, then step n business days.
  *   - Weekends are never business days in either regime.
  *
  * `contar` is O(1): object initialisation builds, per regime, one
  * cumulative business-day `Array[Int]` over the holiday lists' span
  * [1990-01-01, 2100-01-01) (40,177 days each, 320 KB for both). With
  * cum(d) the regime's business days in [1990-01-01, d),
  * `contar(s, e) = cum(e) - cum(s)` under the regime of `s`, for every
  * (s, e) including s > e. Neither list has a holiday outside the span
  * (checked at load), so cum extends past both ends by weekday arithmetic.
  *
  * All hot-path methods operate on epoch-day Ints (Spark's internal DateType
  * representation) so Catalyst expressions can call them directly from
  * generated code. Holiday lists ship as classpath resources (public ANBIMA
  * data) and are loaded once per JVM — on a cluster the jar carries them to
  * every executor, no broadcast needed.
  */
object BrCalendar {

  /** First date (inclusive) on which the new holiday list applies. */
  val TransitionEpochDay: Int = LocalDate.of(2023, 12, 26).toEpochDay.toInt

  private def loadHolidays(resource: String): Array[Int] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing holiday resource $resource")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val fmt = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy")
      src.getLines()
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(l => LocalDate.parse(l, fmt).toEpochDay.toInt)
        .toArray.distinct.sorted // source data repeats 21/04/2079; counting
                                 // needs unique sorted days
    } finally src.close()
  }

  /** All holidays (sorted epoch days), including ones falling on weekends. */
  val holidaysOld: Array[Int] = loadHolidays("/graft/feriados_antigos_br.txt")
  val holidaysNew: Array[Int] = loadHolidays("/graft/feriados_novos_br.txt")

  /** 0=Mon .. 6=Sun. Epoch day 0 (1970-01-01) was a Thursday. */
  @inline def dayOfWeek(epochDay: Int): Int = Math.floorMod(epochDay + 3, 7)

  @inline def isWeekday(epochDay: Int): Boolean = dayOfWeek(epochDay) < 5

  /** Holiday array for the regime governing `anchorEpochDay`. */
  @inline def regimeHolidays(anchorEpochDay: Int): Array[Int] =
    if (anchorEpochDay < TransitionEpochDay) holidaysOld else holidaysNew

  /** Span of the cumulative tables, [1990-01-01, 2100-01-01): every
    * holiday of both lists falls inside it.
    */
  val InicioTabela: Int = LocalDate.of(1990, 1, 1).toEpochDay.toInt
  val FimTabela: Int = LocalDate.of(2100, 1, 1).toEpochDay.toInt
  require(Seq(holidaysOld, holidaysNew).forall(h =>
    h.head >= InicioTabela && h.last < FimTabela),
    "holiday list outside the cumulative table's span")

  /** Weekdays in [-3, d): epoch day -3 (1969-12-29) was a Monday. */
  @inline private def semana(d: Long): Long =
    5 * Math.floorDiv(d + 3, 7L) + math.min(Math.floorMod(d + 3, 7L), 5L)

  /** Business days of one regime in [InicioTabela, InicioTabela + i), for
    * i in 0..FimTabela - InicioTabela.
    */
  private def acumulados(hol: Array[Int]): Array[Int] = {
    val t = new Array[Int](FimTabela - InicioTabela + 1)
    var i = 0
    while (i < t.length - 1) {
      t(i + 1) = t(i) + (if (isBdayUnder(InicioTabela + i, hol)) 1 else 0)
      i += 1
    }
    t
  }

  private val acumuladosOld: Array[Int] = acumulados(holidaysOld)
  private val acumuladosNew: Array[Int] = acumulados(holidaysNew)

  /** Business days in [InicioTabela, d) under the table's regime, negative
    * before InicioTabela. Outside the span no holiday exists, so the count
    * extends past both ends by weekdays.
    */
  @inline private def acumulado(t: Array[Int], d: Long): Long = {
    val i = d - InicioTabela
    if (i < 0) semana(d) - semana(InicioTabela)
    else if (i >= t.length) t(t.length - 1) + semana(d) - semana(FimTabela)
    else t(i.toInt)
  }

  /** Business days in [start, end); negative when start > end.
    * Holiday regime chosen from `start` (the row's anchor), matching the
    * reference's per-row `_expressao_feriados`.
    */
  def contar(startEpochDay: Int, endEpochDay: Int): Long = {
    val t = if (startEpochDay < TransitionEpochDay) acumuladosOld else acumuladosNew
    acumulado(t, endEpochDay) - acumulado(t, startEpochDay)
  }

  def contar(start: LocalDate, end: LocalDate): Long =
    contar(start.toEpochDay.toInt, end.toEpochDay.toInt)

  /** Is `epochDay` a business day under ITS OWN date's regime? */
  def ehDiaUtil(epochDay: Int): Boolean = {
    isWeekday(epochDay) && {
      val hol = regimeHolidays(epochDay)
      Arrays.binarySearch(hol, epochDay) < 0
    }
  }

  def ehDiaUtil(d: LocalDate): Boolean = ehDiaUtil(d.toEpochDay.toInt)

  /** Is `epochDay` a business day under the regime of `anchor`? (used inside
    * deslocar, where the whole operation runs under the original date's list)
    */
  private def isBdayUnder(epochDay: Int, hol: Array[Int]): Boolean =
    isWeekday(epochDay) && Arrays.binarySearch(hol, epochDay) < 0

  /** Roll to nearest business day in `direction` (+1/-1) if not already one,
    * then add n business days (sign of n gives direction of the walk).
    */
  def deslocar(epochDay: Int, n: Int, rollForward: Boolean): Int = {
    val hol = regimeHolidays(epochDay)
    var d = epochDay
    val rollStep = if (rollForward) 1 else -1
    while (!isBdayUnder(d, hol)) d += rollStep
    var remaining = math.abs(n)
    val step = Integer.signum(n)
    while (remaining > 0) {
      d += step
      while (!isBdayUnder(d, hol)) d += step
      remaining -= 1
    }
    d
  }

  def deslocar(date: LocalDate, n: Int, rollForward: Boolean = true): LocalDate =
    LocalDate.ofEpochDay(deslocar(date.toEpochDay.toInt, n, rollForward).toLong)

  /** Business days in [start, end] with configurable interval closure,
    * under a single regime list chosen by `start` when `regime="inferir"`.
    * Mirrors `du.gerar` (/root/reference/pyield/du/core.py:499-556).
    */
  def gerar(start: LocalDate, end: LocalDate,
            closed: String = "both", regime: String = "novo"): Seq[LocalDate] = {
    val s = start.toEpochDay.toInt
    val e = end.toEpochDay.toInt
    val hol: Array[Int] = regime match {
      case "antigo"  => holidaysOld
      case "novo"    => holidaysNew
      case "inferir" => regimeHolidays(s)
      case other     => throw new IllegalArgumentException(s"regime: $other")
    }
    val lo = closed match { case "both" | "left"  => s; case _ => s + 1 }
    val hi = closed match { case "both" | "right" => e; case _ => e - 1 }
    (lo to hi).iterator
      .filter(d => isBdayUnder(d, hol))
      .map(d => LocalDate.ofEpochDay(d.toLong))
      .toSeq
  }

  /** Today in America/Sao_Paulo rolled backward to a business day
    * (reference: pyield/du/core.py:682-701, pyield/relogio.py:17-35).
    * Wall-clock stays driver-side, independent of the Spark session TZ.
    */
  def ultimoDiaUtil(): LocalDate = {
    val hoje = LocalDate.now(java.time.ZoneId.of("America/Sao_Paulo"))
    deslocar(hoje, 0, rollForward = false)
  }
}
