package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * MinHash/SimHash need an integer hash function that produces *identical*
  * values in Spark and in the DuckDB oracle. Spark's `hash()`/`xxhash64()`
  * and DuckDB's `hash()` are different algorithms, so we standardize on
  * MD5 (available and identical in both) and read the first 15 hex digits
  * as a 60-bit non-negative integer:
  *
  *   Spark :  CAST(CONV(SUBSTRING(MD5(s), 1, 15), 16, 10) AS BIGINT)
  *   DuckDB:  ('0x' || substr(md5(s), 1, 15))::BIGINT
  *
  * Hash-family members are affine maps `(a_i * (h mod P) + b_i) mod P`
  * over the Mersenne prime P = 2^31 - 1; the (a_i, b_i) constants are
  * themselves derived from MD5 of a seed label, so both engines embed the
  * same literals and no RNG is involved anywhere.
  */
object PortableHash {

  /** Modulus for affine hash families: 2^31 - 1 (Mersenne prime).
    * (h mod P) * a stays under 2^62 for a < 2^31 — no int64 overflow. */
  val P: Long = 2147483647L

  /** 60-bit integer hash of a string column. Rides the native
    * [[TextHashFunctions.Hash60]] expression (MD5 bytes straight to the
    * long — no hex render/substring/base-16 re-parse per row); pinned
    * bit-identical to the composable
    * `conv(substring(md5(c),1,15),16,10)` form by
    * TextHashFunctionsSpec. The cast keeps pre-existing non-string
    * callers on the same implicit-cast semantics the composable form
    * had (a string column passes through unchanged). */
  def hash60(c: Column): Column =
    TextHashFunctions.hash60Col(c.cast("string"))

  /** Same, as DuckDB SQL text over expression `e`. */
  def hash60Sql(e: String): String =
    s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"

  /** [[hash60]] of an id's decimal text followed by `salt`: the per-id
    * pseudo-random order or draw of a curation stage, one salt per
    * stage. */
  def salted(id: Column, salt: String): Column =
    hash60(concat(id.cast("string"), lit(salt)))

  /** Same, as DuckDB SQL text over id expression `e`. */
  def saltedSql(e: String, salt: String): String =
    hash60Sql(s"CAST($e AS VARCHAR) || '$salt'")

  /** i-th member of the affine family applied to a pre-hashed column. */
  def affine(h: Column, i: Int): Column =
    (h % P * lit(constantA(i)) + lit(constantB(i))) % P

  /** Same, as DuckDB SQL text over pre-hashed expression `h`. */
  def affineSql(h: String, i: Int): String =
    s"((($h % $P) * ${constantA(i)} + ${constantB(i)}) % $P)"

  /** Deterministic family constants from MD5 of a seed label. */
  def constantA(i: Int): Long = 1L + seedLong(s"minhash-a-$i") % (P - 1) // in [1, P-1]
  def constantB(i: Int): Long = seedLong(s"minhash-b-$i") % P

  /** Driver-side 60-bit hash of a label — for deriving deterministic
    * constants (hash families, LSH hyperplanes) with no RNG. */
  def seedLong(label: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(label.getBytes(StandardCharsets.UTF_8))
    // first 15 hex digits == first 7.5 bytes; use top 60 bits, non-negative
    val hex = d.take(8).map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }
}
