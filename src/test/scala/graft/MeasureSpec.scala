package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** The one query run loop, on stub ops: no Spark session. */
class MeasureSpec extends AnyFunSuite {

  /** `body`'s result and what it printed to stderr. */
  private def stderrOf[A](body: => A): (A, String) = {
    val buf = new ByteArrayOutputStream
    val saved = System.err
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    try (body, buf.toString("UTF-8"))
    finally System.setErr(saved)
  }

  test("before runs untimed ahead of every timed repeat") {
    val log = ArrayBuffer.empty[String]
    val (times, _) = stderrOf(Measure.repeat("t", "op", 3) {
      log += "before"
      Thread.sleep(300)
    } { log += "run" })
    assert(log == Seq.fill(3)(Seq("before", "run")).flatten)
    assert(times.get.size == 3)
    assert(times.get.forall(t => t >= 0 && t < 0.25), times)
  }

  test("the first throw ends the op with no time and no partial sample") {
    var before, runs = 0
    val (times, err) = stderrOf(Measure.repeat("t", "op", 5)(before += 1) {
      runs += 1
      if (runs == 2) throw new IllegalStateException("boom")
    })
    assert(times.isEmpty)
    assert(before == 2 && runs == 2, "no repeat runs after the throw")
    assert(err.contains("[t] op failed: java.lang.IllegalStateException: boom"))
  }

  test("a warm-up throw is logged and the run goes on; a fatal error is not caught") {
    val (ok, err) = stderrOf(Measure.attempt("t", "warmup op")(throw new RuntimeException("cold")))
    assert(!ok)
    assert(err.contains("[t] warmup op failed: java.lang.RuntimeException: cold"))
    assert(Measure.attempt("t", "op")(()))
    intercept[LinkageError](Measure.attempt("t", "op")(throw new LinkageError("fatal")))
    intercept[LinkageError](Measure.repeat("t", "op", 2)(())(throw new LinkageError("fatal")))
  }

  test("prefix selection is sorted and the same from env and from arguments") {
    val fromEnv = Measure.select(Measure.only(Map("SPARK_GRAFT_ONLY" -> " q5, q1,,q22_")))
    val fromArgs = Measure.select(Some(Seq("q1", "q22_", "q5")))
    assert(fromEnv == fromArgs)
    assert(fromEnv == fromEnv.sorted && fromEnv.nonEmpty)
    assert(fromEnv.forall(n => Seq("q1", "q22_", "q5").exists(n.startsWith)))
    assert(fromEnv == SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("q1") || n.startsWith("q22_") || n.startsWith("q5")))
    assert(Measure.only(Map.empty).isEmpty)
    assert(Measure.select(None) == SparkEntry.queries.keys.toSeq.sorted)
  }
}
