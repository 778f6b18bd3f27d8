package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The oracle text cannot move by accident: the SHA-256 of every
  * `SparkEntry.oracleSql` entry must equal its line in
  * `plans/oracle_sql.sha256` (`<hex>  <name>`, sorted by name — the
  * `sha256sum` layout). A refactor of the query definitions keeps the
  * file as it is; a declared oracle change regenerates it from the
  * `oracle_sql.json` that `graft.Verify` writes, and says so in
  * CHANGES.md. Needs no SparkSession: the oracle strings are built with
  * the registry. */
class OracleSqlPinSpec extends AnyFunSuite with Matchers {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("every oracle's SQL text is byte-identical to the pinned digest") {
    val pinned = Files.readAllLines(Paths.get("plans/oracle_sql.sha256"),
      StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).map { line =>
      val Array(hex, name) = line.split("  ", 2)
      name -> hex
    }.toMap
    val actual = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    withClue("oracles added or removed: ") {
      actual.keySet shouldBe pinned.keySet
    }
    val moved = actual.collect { case (k, h) if pinned(k) != h => k }
      .toSeq.sorted
    withClue("oracle SQL text changed: ") {
      moved shouldBe empty
    }
  }
}
