package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}

/** Batch-query profiler (dev-only): for each named query, separates
  * DATAFRAME CONSTRUCTION cost (analysis + any eager side-effects —
  * FrameCache memo builds, localCheckpoints fired during build) from
  * EXECUTION cost (the noop-sink write), and counts the
  * Spark jobs / stages / tasks each phase launched plus the executed
  * plan's exchange nodes. At fixture scale wall time is dominated by
  * job/stage fixed costs, so these counts say WHERE a query's seconds
  * live — the measurement §1 of the optimization guide asks for before
  * any change.
  *
  * `runMain graft.Profile <sfDir> <query,query,...|all> [passes] [noprewarm]`
  * (`noprewarm`: each query pays its own shared-frame builds).
  */
object Profile {
  private final class Counter extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
    }
    def snap(): (Int, Int, Int) = (jobs, stages, tasks)
  }

  /** Count shuffle/broadcast exchanges in an executed plan, descending
    * into AQE subtrees and reused stages. */
  private def exchanges(p: SparkPlan): (Int, Int) = {
    var sh = 0
    var bc = 0
    def walk(n: SparkPlan): Unit = {
      n match {
        case _: ShuffleExchangeExec => sh += 1
        case _: BroadcastExchangeExec => bc += 1
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => ()
      }
      n.children.foreach(walk)
    }
    walk(p)
    (sh, bc)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names0 = args.lift(1).getOrElse("all")
    val passes = args.lift(2).filter(_.forall(_.isDigit))
      .map(_.toInt).getOrElse(2)
    val all = SparkEntry.queries
    val names =
      if (names0 == "all") all.keys.toSeq.sorted
      else names0.split(",").toSeq
    val unknown = names.filterNot(all.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val spark = LocalSession()
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    try Bench.force(all("cdc_enrich")(spark, sfDir))
    catch { case _: Throwable => () }

    // Bench-shaped passes: shared caches cleared and prewarmed ONCE per
    // pass, then every named query measured in sorted order — so a
    // query's numbers match its bench attribution (memo builds land on
    // the first toucher, exactly as in a bench pass).
    val prewarm = !args.contains("noprewarm")
    println("query,pass,build_s,exec_s,build_jobs,exec_jobs,stages,tasks," +
      "shuffles,bcasts")
    (1 to passes).foreach { p =>
      graft.queries.FrameCache.clearAll()
      if (prewarm) {
        val w0 = System.nanoTime()
        try SparkEntry.prewarmShared(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"prewarm failed: $e")
        }
        System.err.println(
          f"[profile] pass $p prewarm ${(System.nanoTime() - w0) / 1e9}%.1f s")
      }
      names.foreach { name =>
        val (j0, s0, t0c) = counter.snap()
        val w0 = System.nanoTime()
        val df =
          try all(name)(spark, sfDir)
          catch { case e: Throwable =>
            System.err.println(s"$name build failed: $e"); null }
        val w1 = System.nanoTime()
        val (j1, _, _) = counter.snap()
        if (df != null) {
          try Bench.force(df) catch { case e: Throwable =>
            System.err.println(s"$name exec failed: $e") }
          val w2 = System.nanoTime()
          val (j2, s2, t2c) = counter.snap()
          val (sh, bc) =
            try exchanges(df.queryExecution.executedPlan)
            catch { case _: Throwable => (-1, -1) }
          println(f"$name,$p,${(w1 - w0) / 1e9}%.3f,${(w2 - w1) / 1e9}%.3f," +
            s"${j1 - j0},${j2 - j1},${s2 - s0},${t2c - t0c},$sh,$bc")
        }
      }
    }
    spark.stop()
  }
}
