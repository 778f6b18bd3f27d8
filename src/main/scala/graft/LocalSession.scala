package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session every entry point runs on (Verify, Bench,
  * StreamBench, Profile, PlanDump, ScaleLadder) and the test suite:
  * `local[cpus]` with as many shuffle partitions as cores, no UI, no
  * artifact isolation, WARN logging, and the UTC session zone. UTC is
  * not optional: the events fixture is TIMESTAMP_NTZ, so without the pin
  * an entry point would bucket/filter in the host's JVM zone and time or
  * dump a DIFFERENT selectivity than the verified path.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else this host's core count. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** The configured builder, for a caller that adds its own settings
    * (the test suite's warehouse directory) before `getOrCreate`.
    *
    * Artifact isolation is off: the program adds no session artifacts,
    * and with isolation on every streaming query runs in a cloned session
    * with its own class loader, which is part of Spark's codegen cache
    * key, so each new query recompiled its generated classes and then ran
    * them cold. */
  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")

  def apply(cores: Int = cpus): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
