package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** The timing and output conventions Bench and the measuring tools share. */
object Measure {

  /** Runs `df` through the noop sink, which executes the full plan,
    * including projections a count() would prune.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seconds `body` takes, then an untimed full GC whether it passed or
    * threw: broadcast and shuffle state is reclaimed by the ContextCleaner
    * only when the driver GCs, so without it the state of earlier queries
    * piles up and later ones pay the GC wall.
    */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    finally System.gc()
  }

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
