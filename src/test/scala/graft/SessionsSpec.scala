package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the session factory's policy, and that it is the only place a
  * session is built.
  */
class SessionsSpec extends SparkSuite {

  test("the factory's session: partitions = cores, UTC, nanos as long, no UI") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("the factory re-applies its runtime policy to a running session") {
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try assert(Sessions.local(4).conf.get("spark.sql.shuffle.partitions") == "4")
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("no session builder outside the factory (ExtensionsSpec needs withExtensions)") {
    val builder = "SparkSession" + ".builder"
    val allowed = Set("Sessions.scala", "ExtensionsSpec.scala")
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java")).toSeq
    assert(files.size > 100)
    val offenders = files.filter { p: Path =>
      !allowed(p.getFileName.toString) && Files.readString(p).contains(builder)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
