package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** The one query run loop and the output conventions Bench, Verify and
  * the tools share. A main selects its queries ([[select]]), warms
  * untimed ([[attempt]]) and times repeats ([[repeat]]); only
  * [[repeat]] times anything.
  */
object Measure {

  /** The test data a measuring main reads: SPARK_GRAFT_SF_DIR, else sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Timed repeats per op: SPARK_GRAFT_REPEATS, else the caller's `default`. */
  def repeats(default: Int): Int =
    sys.env.get("SPARK_GRAFT_REPEATS").map(_.trim.toInt).getOrElse(default)

  /** SPARK_GRAFT_ONLY's comma-separated query-name prefixes (e.g.
    * `q50,q32`); None when it is unset.
    */
  def only(env: Map[String, String] = sys.env): Option[Seq[String]] =
    env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** Every query whose name starts with one of `prefixes`, sorted; every
    * query when None.
    */
  def select(prefixes: Option[Seq[String]]): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(n => prefixes.forall(_.exists(n.startsWith)))

  /** Runs `body` untimed. A non-fatal failure is logged as
    * `[tag] name failed: …` and the caller goes on; false tells it so.
    */
  def attempt(tag: String, name: String)(body: => Unit): Boolean =
    try { body; true }
    catch { case NonFatal(e) =>
      System.err.println(s"[$tag] $name failed: $e")
      false
    }

  /** Seconds of `repeats` runs of `run`, each after an untimed `before`.
    * The first non-fatal failure ends the op: it is logged and the op
    * gets no time at all (None), so a broken query never passes for a
    * fast one.
    */
  def repeat(tag: String, name: String, repeats: Int)(before: => Unit)(
      run: => Unit): Option[Seq[Double]] = {
    val times = Seq.newBuilder[Double]
    val ok = (1 to repeats).forall { r =>
      before
      System.err.println(s"[$tag] $name ($r/$repeats)")
      attempt(tag, name)(times += seconds(run))
    }
    if (ok) Some(times.result()) else None
  }

  /** Seconds `body` takes, then an untimed full GC whether it passed or
    * threw: broadcast and shuffle state is reclaimed by the ContextCleaner
    * only when the driver GCs, so without it the state of earlier queries
    * piles up and later ones pay the GC wall.
    */
  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    finally System.gc()
  }

  /** Runs `df` through the noop sink, which executes the full plan,
    * including projections a count() would prune.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `v` to `decimals` places. Locale.ROOT: the default JVM locale may
    * render comma decimal separators (invalid JSON), e.g. on pt_BR.
    */
  def num(v: Double, decimals: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Prints `line` to stdout, flushed, and writes it to `file`; a failed
    * write is logged, not thrown.
    */
  def emit(line: String, file: String): Unit = {
    println(line)
    System.out.flush()
    try Files.writeString(Paths.get(file), line + "\n")
    catch { case NonFatal(e) => System.err.println(s"could not write $file: $e") }
  }
}
