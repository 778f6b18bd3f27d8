package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.ingest.Tables

/** Fixture tables open from their parquet footers: the same schema
  * Spark's inference gives, without the inference job; and `Tables.sql`
  * registers the tables a statement names, no more. */
class TablesSpec extends SparkSpec {
  private val root = new java.io.File("/root/testdata")

  private def scaleDirs: Seq[String] =
    root.listFiles().filter(d => new java.io.File(d, "region.parquet").isFile)
      .map(_.getPath).sorted.toSeq

  /** `body`'s result and the Spark jobs it started. A marker job run
    * after `body` is seen last by the listener, so every job `body`
    * started has been counted once the marker arrives. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == "tables-marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup("tables-marker", "listener flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      marker.await(60, TimeUnit.SECONDS) shouldBe true
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** What `spark.read.parquet` infers, with `events.ts` normalized the
    * way `Tables` does it. */
  private def inferred(s: SparkSession, dir: String, name: String): StructType = {
    val raw = s.read.parquet(s"$dir/$name.parquet").schema
    if (name != "events") raw
    else StructType(raw.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
  }

  test("every fixture table opens from its footer with Spark's schema and no job") {
    val dirs = scaleDirs
    dirs should not be empty
    for (dir <- dirs; name <- Tables.all) {
      // A new session shares the context (and the listener) but not the
      // handle cache, so each table is opened here for the first time.
      val s = spark.newSession()
      val (t, jobs) = jobsIn(Tables.table(s, dir, name))
      withClue(s"$dir/$name: ") {
        jobs shouldBe 0
        t.schema shouldBe inferred(s, dir, name)
      }
    }
  }

  test("a Spark-written file resolves to Spark's inferred schema") {
    val dir = Files.createTempDirectory("tables-spec")
    import spark.implicits._
    Seq((1L, "a", Seq(1.5, 2.5)), (2L, null, Seq.empty[Double])).toDF("id", "s", "v")
      .select(col("id"), col("s"), col("v"),
        lit(BigDecimal("1.25")).cast("decimal(12,2)").as("amount"),
        struct(col("id").as("k"), lit(true).as("flag")).as("nested"),
        timestamp_micros(col("id")).as("ts"),
        to_timestamp_ntz(lit("2024-01-01 00:00:00")).as("wall"))
      .coalesce(1).write.parquet(s"$dir/out")
    // Spark writes a directory; its one part file is the table.
    val part = Files.list(dir.resolve("out")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, dir.resolve("file.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val s = spark.newSession()
    val (file, fileJobs) = jobsIn(Tables.table(s, dir.toString, "file"))
    fileJobs shouldBe 0
    file.schema shouldBe s.read.parquet(s"$dir/file.parquet").schema
    file.count() shouldBe 2
  }

  test("named: whole-word table names, in a CTE body, backticked or qualified") {
    Tables.named("WITH li AS (SELECT l_orderkey FROM lineitem) SELECT * FROM li") shouldBe
      Seq("lineitem")
    Tables.named("SELECT o_orderkey FROM `orders`") shouldBe Seq("orders")
    Tables.named("SELECT region.r_name FROM region") shouldBe Seq("region")
    Tables.named("SELECT c.c_name FROM Customer c JOIN NATION n ON c.c_nationkey = n.n_nationkey") shouldBe
      Seq("nation", "customer")
    // column names and other identifiers that only contain a table name
    Tables.named(
      "SELECT p_partkey, SUM(x) OVER (PARTITION BY p_type ORDER BY p_size) FROM lineitem_par") shouldBe
      Nil
  }

  test("sql registers exactly the tables the statement names, then runs it") {
    val d = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val n = Tables.sql(s, d,
      """WITH li AS (SELECT l_orderkey FROM lineitem)
        |SELECT COUNT(*) FROM li JOIN `orders` o ON li.l_orderkey = o.o_orderkey""".stripMargin)
      .first().getLong(0)
    n shouldBe Tables.lineitem(s, d).count()
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet shouldBe
      Set("lineitem", "orders")
  }

  test("a missing table file fails loudly") {
    val empty = Files.createTempDirectory("tables-spec-empty").toString
    val s = spark.newSession()
    a[java.io.FileNotFoundException] should be thrownBy Tables.table(s, empty, "region")
    a[java.io.FileNotFoundException] should be thrownBy
      Tables.sql(s, empty, "SELECT r_name FROM region")
  }
}
