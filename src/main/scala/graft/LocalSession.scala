package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session every entry point runs on (Verify, Bench,
  * StreamBench, Profile, PlanDump, ScaleLadder): `local[cpus]` with as
  * many shuffle partitions as cores, no UI, WARN logging, and the UTC
  * session zone. UTC is not optional: the events fixture is
  * TIMESTAMP_NTZ, so without the pin an entry point would bucket/filter
  * in the host's JVM zone and time or dump a DIFFERENT selectivity than
  * the verified path.
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

  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
