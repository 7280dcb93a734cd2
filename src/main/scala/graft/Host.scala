package graft

/** Defaults derived from the host the program runs on. */
object Host {

  /** Local Spark cores: `SPARK_GRAFT_CPUS`, else every processor the JVM
    * may use.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)
}
