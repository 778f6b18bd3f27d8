package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload is given. `work` is the run's scratch directory. */
final case class Ctx(seed: Long, cpus: Int, work: Path, fixture: Option[Path])

/** Observers of one timed segment: spans, and (traced only) the
  * benchmark's streaming listener. */
final case class Obs(tracer: Tracer, progress: Option[ProgressLog])

/** Result of one timed segment: end-to-end figures, per-layer figures
  * (traced segments only) and how many units of work it timed. */
final case class Segment(e2e: Seq[(String, Double)], layers: Seq[(String, Double)],
    units: Int, notes: Seq[(String, Double)] = Nil)

/** Output checks, made after the timed window. */
final case class Check(attempted: Long, failed: Long,
    layers: Seq[(String, Double)] = Nil, notes: Seq[(String, Double)] = Nil)

trait Workload {
  /** Generate inputs and warm up, untimed by the workload itself. */
  def setup(spark: SparkSession): Unit
  def run(spark: SparkSession, seconds: Double, obs: Obs, tag: String): Segment
  def check(spark: SparkSession): Check
}

object Passes {
  /** Runs `ceil(seconds / nominalS)` numbered passes, at least one. The
    * count depends on the run's seconds only, never on how long the passes
    * happened to take, so every run of a workload has the same shape. */
  def run[T](seconds: Double, nominalS: Double)(pass: Int => T): Seq[T] =
    (0 until math.max(1, math.ceil(seconds / nominalS - 1e-9).toInt)).map(pass)
}

object Io {
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => { Files.deleteIfExists(p); () })
    finally s.close()
  }
}

/** Runs one workload: set-up three times (the last session is kept), the
  * timed segment (traced with `trace`), the output checks and then the
  * ambient probe. Prints one `PERFBENCH {json}` line.
  *
  * Arguments: workload seed seconds trace workDir cpus [fixtureDir]
  * [genSeconds,...]
  */
object Main {
  val SetupReps = 3

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "cdc_pipeline" => new Pipeline(ctx)
    case "query_board" => new Board(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS, cpusS) = args.take(6)
    val work = Paths.get(workS).toAbsolutePath
    val ctx = Ctx(seedS.toLong, cpusS.toInt, work, args.lift(6).filter(_.nonEmpty).map(Paths.get(_)))
    val genSec = args.lift(7).filter(_.nonEmpty).map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(Seq.fill(SetupReps)(0.0))
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val w = workload(name, ctx)

    var spark: SparkSession = null
    val setupSec = (0 until SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(ctx.cpus, work)
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9 + genSec(rep)
    }
    try {
      val phases = Seq.newBuilder[(String, Double)]
      def phase[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try body finally phases += s"phase.${name}_s" -> (System.nanoTime() - t0) / 1e9
      }
      val load = Ambient.loadavg()
      val jiffies = Ambient.cpuJiffies()
      // A traced run times the same segment in the same position, with
      // spans and listeners on. Its end-to-end figures go to the context
      // line only; the tracing overhead compares them across runs.
      val (seg, counts) = phase("timed") {
        if (!trace) (w.run(spark, seconds, Obs(new Tracer(false), None), "u"), Nil)
        else Listeners.around(spark) { (sc, pl) =>
          val t = new Tracer(true)
          val seg = w.run(spark, seconds, Obs(t, Some(pl)), "t")
          t.write(work.resolve("trace.jsonl").toString)
          (seg, sc.metrics)
        }
      }
      val check = phase("check") { w.check(spark) }
      // After the timed work, so that the probe runs on a warm JVM.
      val context = phase("probe") { Ambient.fields(spark, load, jiffies) }
      val e2e = ("setup_s" -> Stats.median(setupSec)) +: seg.e2e
      val layers =
        if (!trace) Nil
        else seg.layers ++ counts ++ check.layers ++ Seq(
          "ambient.loadavg" -> context.toMap.apply("loadavg"),
          "ambient.probe_s" -> context.toMap.apply("probe_s"),
          "ambient.steal_share" -> context.toMap.apply("steal_share"))
      def o(kv: Seq[(String, Double)]) = Json.obj(kv.map { case (k, v) => k -> Json.num(v) })
      println("PERFBENCH " + Json.obj(Seq(
        "workload" -> Json.str(name),
        "attempted" -> check.attempted.toString,
        "failed" -> check.failed.toString,
        "setup_reps" -> setupSec.map(Json.num).mkString("[", ",", "]"),
        "units" -> seg.units.toString,
        "e2e" -> o(e2e),
        "layers" -> o(layers),
        "context" -> o(context),
        "notes" -> o(phases.result() ++ seg.notes ++ check.notes))))
    } finally spark.stop()
  }
}
