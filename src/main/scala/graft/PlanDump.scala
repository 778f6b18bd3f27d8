package graft

/** Plan-inspection harness: `runMain graft.PlanDump <sfDir> [query...]`
  * prints the formatted physical plan of each named query (all queries
  * when none named) — the iteration loop for checking pushdown, pruning,
  * broadcast choice and codegen spans before trusting a bench number. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // 8 cores whatever the host: the committed dumps under plans/ carry
    // `hashpartitioning(…, 8)`, so a dump stays diffable against them.
    val spark = LocalSession(8)
    names.foreach { n =>
      println(s"======== $n")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
