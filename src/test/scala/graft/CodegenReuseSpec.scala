package graft

import java.nio.file.Files

import org.apache.spark.graft.CodegenCount
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.DebeziumParser

/** Generated classes are shared across streaming queries: each query runs
  * in a cloned session, and [[LocalSession]] turns off the artifact
  * isolation that gave every clone its own class loader (part of Spark's
  * codegen cache key), so a second query over the same plan compiles
  * nothing. */
class CodegenReuseSpec extends SparkSpec {

  test("a second AvailableNow query over the same plan adds no compilation") {
    val dir = Files.createTempDirectory("codegen-reuse")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    Files.write(in.resolve("part.txt"), java.util.Arrays.asList(
      """{"payload":{"after":{"id":1,"event_type":"play"}}}""",
      """{"id":2,"event_type":"click","__op":"c"}""",
      "{oops"))
    def runOnce(n: Int): Unit = {
      val q = DebeziumParser.parseEvents(spark.readStream.text(in.toString)).rows
        .writeStream.format("noop")
        .option("checkpointLocation", dir.resolve(s"ckpt$n").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.exception shouldBe None
    }
    runOnce(1)
    val before = CodegenCount.compiles
    runOnce(2)
    CodegenCount.compiles - before shouldBe 0L
  }
}
