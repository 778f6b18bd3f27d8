package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import com.fasterxml.jackson.databind.ObjectMapper

/** The benchmark's own checks of its generator and its latency accounting.
  * No Spark session. Exits non-zero on the first failed check.
  *
  * Run with `python3 perfbench/test_bench.py`, which builds and calls it.
  */
object SelfTest {
  private var checks = 0

  private def check(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAILED: $what"); sys.exit(1) }
  }

  private def close(a: Double, b: Double, eps: Double = 1e-9) = math.abs(a - b) <= eps

  private def sha(msgs: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    msgs.foreach(m => md.update((m + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def batch(g: CdcGen, n: Int): Iterator[String] =
    (0L until n).iterator.map(s => g.message(s, 1704067200000000L + s * 1000L))

  def generator(): Unit = {
    val a = new CdcGen(7)
    val b = new CdcGen(7)
    check(sha(batch(a, 5000)) == sha(batch(b, 5000)), "same seed gives identical messages")
    check(a.content == b.content, "same seed gives the same dimension")
    val c = new CdcGen(8)
    check(a.idBase != c.idBase, "a different seed gives different event ids")
    check(a.content.map(_.id).intersect(c.content.map(_.id)).isEmpty,
      "a different seed gives different content ids")
    check(sha(batch(a, 5000)) != sha(batch(c, 5000)), "a different seed gives different messages")

    val json = new ObjectMapper()
    def shares(g: CdcGen, n: Int): Map[String, Double] = {
      val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      (0L until n).foreach { s =>
        val m = g.message(s, 1704067200000000L + s)
        val kind = g.kindOf(s)
        counts(kind.toString) += 1
        kind match {
          case CdcGen.JsonError =>
            check(scala.util.Try(json.readTree(m)).isFailure, s"json_error message $s does not parse")
          case CdcGen.MissingAfter =>
            check(json.readTree(m).get("payload").get("after").isNull,
              s"missing_after message $s has a null payload.after")
          case _ =>
            val t = json.readTree(m)
            val row = if (t.has("payload")) t.get("payload").get("after") else t
            check(row.get("id").asLong == g.idBase + s, s"message $s carries its event id")
            check(json.readTree(row.get("raw_payload").asText).has("session_id"),
              s"message $s has a nested JSON raw_payload")
            counts("type." + row.get("event_type").asText) += 1
            counts("shape." + t.has("payload")) += 1
        }
      }
      counts.map { case (k, v) => k -> v.toDouble / n }.toMap
    }
    val n = 20000
    val sa = shares(a, n)
    val sc = shares(c, n)
    Seq("type.play" -> 0.45, "type.pause" -> 0.25, "type.click" -> 0.20, "type.finish" -> 0.10,
      "shape.true" -> 0.49, "shape.false" -> 0.49,
      "JsonError" -> 0.005, "MissingAfter" -> 0.005, "Miss" -> 0.01).foreach { case (k, p) =>
      val tol = math.max(0.003, p * 0.1)
      check(close(sa.getOrElse(k, 0.0), p, tol), s"seed 7 share of $k is about $p: ${sa.get(k)}")
      check(close(sc.getOrElse(k, 0.0), p, tol), s"seed 8 share of $k is about $p: ${sc.get(k)}")
    }
    val want = CdcGen.counts(a, 0, n)
    check(want.jsonError == math.round(sa("JsonError") * n), "counts agree with kindOf")
  }

  def latency(): Unit = {
    import StreamLatency._
    // 10 events per second from t = 0 ms: event s is due at 100 * s ms.
    val feeds = Seq(
      Feed(offset = 0, from = 0, until = 5, sentMs = 450),
      Feed(offset = 1, from = 5, until = 10, sentMs = 950),
      Feed(offset = 2, from = 10, until = 15, sentMs = 1450),
      Feed(offset = 3, from = 15, until = 20, sentMs = 1950))
    val commits = Seq(
      Commit(batchId = 1, startOffset = 0, endOffset = 2, startMs = 1500, commitMs = 2600),
      Commit(batchId = 0, startOffset = -1, endOffset = 0, startMs = 500, commitMs = 1500))
    val r = compute(0.0, 10.0, 0L, feeds, commits)
    val want = (0 until 5).map(s => 1.5 - s * 0.1) ++ (5 until 15).map(s => 2.6 - s * 0.1)
    check(r.latencies.length == 15, s"15 events were committed: ${r.latencies.length}")
    check(r.latencies.sorted.zip(want.sorted).forall { case (x, y) => close(x, y, 1e-9) },
      s"latency is commit minus due time: ${r.latencies.toSeq}")
    check(r.unseen == 5, s"the uncommitted feed's 5 events are unseen: ${r.unseen}")
    check(r.perBatchMax.toMap == Map(0L -> 1.5, 1L -> 2.1), s"per-batch worst: ${r.perBatchMax}")
    check(r.backlogMax == 10, s"10 events wait at batch 1's start: ${r.backlogMax}")
    check(close(r.lateMaxS, 0.45), s"the generator ran 0.45 s late: ${r.lateMaxS}")
    check(close(Stats.median(r.latencies.toSeq), 1.5), "median latency")

    val lead = compute(0.0, 10.0, 5L, feeds, commits)
    check(lead.latencies.length == 10, "events before the lead-in end are not measured")
    check(lead.latencies.min > 1.19 && lead.latencies.max < 2.11, "measured events are 5..14")
  }

  def stats(): Unit = {
    check(close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5), "median of an even sample")
    check(close(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9), 4.6), "p90 interpolates")
    check(Passes.run(10, 4)(identity).size == 3, "10 s at 4 s a pass is 3 passes")
    check(Passes.run(1, 15)(identity).size == 1, "at least one pass")
  }

  def tracer(): Unit = {
    val t = new Tracer(true)
    t.span("outer", "r") {
      Thread.sleep(30)
      t.span("inner", "r") { Thread.sleep(60) }
    }
    val outer = t.all.find(_.name == "outer").get
    val inner = t.all.find(_.name == "inner").get
    check(inner.parent == outer.id, "a nested span records its parent")
    check(outer.startNs <= inner.startNs && inner.endNs <= outer.endNs, "a child lies in its parent")
    val off = new Tracer(false)
    check(off.span("x", "r")(42) == 42 && off.all.isEmpty, "a disabled tracer records nothing")
  }

  def main(args: Array[String]): Unit = {
    generator(); latency(); stats(); tracer()
    println(s"perfbench self-test: $checks checks passed")
  }
}
