package graft

/** Defaults derived from the host the program runs on. */
object Host {

  /** Local Spark cores: `SPARK_GRAFT_CPUS`, else every processor the JVM
    * may use.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
