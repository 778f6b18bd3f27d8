package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One timed interval at a layer boundary. Spans of one unit of work
  * (a board query, a backfill pass, a micro-batch) share `runId`. */
final case class Span(id: Long, parent: Long, runId: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, [[span]] only runs its body; enabled,
  * it records name, start, end and parent (the innermost open span of the
  * calling thread). Nothing is written until [[write]] at the end of a run.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def span[T](name: String, runId: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0L), runId, name, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Sum of durations of spans named `name`. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  def write(path: String): Unit = if (enabled) {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":${Json.str(s.runId)},""" +
        s""""name":${Json.str(s.name)},"start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9}}"""
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Scheduler counters, from a SparkListener the benchmark registers. */
final class SchedulerCounts extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def metrics: Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble)
}

/** Micro-batch progress of every streaming query, from a
  * StreamingQueryListener the benchmark registers. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress); () }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def of(name: String): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.name == name).sortBy(_.batchId)
}

/** Registers the listeners for one traced segment and removes them after. */
object Listeners {
  def around[T](spark: SparkSession)(body: (SchedulerCounts, ProgressLog) => T): T = {
    val sc = new SchedulerCounts
    val pl = new ProgressLog
    spark.sparkContext.addSparkListener(sc)
    spark.streams.addListener(pl)
    try body(sc, pl)
    finally {
      // Let the listener bus deliver the segment's last events.
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(sc)
      spark.streams.removeListener(pl)
    }
  }
}

/** The box the run was made on, recorded next to its metrics. These are
  * context only: no metric is ever rescaled by them. */
object Ambient {
  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Seconds for a fixed amount of in-memory hash-and-sum work on all
    * cores: moves with CPU availability. */
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 16L << 20, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id, id * 2654435761)) as h")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat: time the
    * hypervisor gave this machine's CPUs to someone else. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Context of a run: load and steal over its timed work, then the probe. */
  def fields(spark: SparkSession, load: Double, before: (Long, Long)): Seq[(String, Double)] = {
    val after = cpuJiffies()
    val total = after._2 - before._2
    Seq(
      "loadavg" -> load,
      "steal_share" -> (if (total > 0) (after._1 - before._1).toDouble / total else 0.0),
      "nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "probe_s" -> probe(spark))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Median (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
