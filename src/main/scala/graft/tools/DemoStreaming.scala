package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Hand-runnable demo of the streaming operators over a staged copy of the
  * events fixture (file stream → memory sink):
  *   sbt "runMain graft.tools.DemoStreaming [sfDir]"
  */
object DemoStreaming {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local()

    val dir = Files.createTempDirectory("events_demo")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)

    for ((name, df) <- Seq(
        "tumbling" -> EventStreams.tumblingCounts(
          EventStreams.readEvents(spark, dir.toString)),
        "hopping" -> EventStreams.hoppingCounts(
          EventStreams.readEvents(spark, dir.toString)))) {
      val q = df.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      println(s"== $name ==")
      spark.table(name).orderBy("win_start", "event_type").show(8)
      q.stop()
    }

    // watermarked dedup over a re-delivered (doubled) stream
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("part-1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = EventStreams.dedupEvents(
        EventStreams.readEvents(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("deduped").start()
    q.processAllAvailable()
    println("== dedup == rows=" + spark.table("deduped").count())
    q.stop()

    // quantile quality-gate admission: batch q110 thresholds, doc stream
    val docsDir = Files.createTempDirectory("docs_demo")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      docsDir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val thresholds = graft.SparkEntry.queries("q110_quality_gate")(spark, sfDir)
      .select(col("source"), col("thr"))
    val qg = EventStreams.qualityGateAdmission(
        EventStreams.readDocuments(spark, docsDir.toString), thresholds)
      .writeStream.outputMode("append")
      .format("memory").queryName("qgate").start()
    qg.processAllAvailable()
    println("== quality gate == admitted=" +
      spark.table("qgate").filter(col("admit")).count() +
      " of " + spark.table("qgate").count())
    qg.stop()

    spark.stop()
  }
}
