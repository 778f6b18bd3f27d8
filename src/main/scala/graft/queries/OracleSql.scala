package graft.queries

import graft.functions.PortableHash

/** DuckDB SQL fragments mirroring the column expressions in
  * [[graft.operators.Dedup]] / [[graft.operators.TextAnalysis]] /
  * [[graft.operators.Similarity]], so each oracle is generated from the
  * SAME constants ([[PortableHash]] seeds, LSH hyperplanes) as the Spark
  * plan. Everything here relies only on engine-portable arithmetic:
  * MD5-derived integer hashes, exact integer-valued doubles, IEEE sqrt /
  * division — so values are bit-identical across engines.
  */
object OracleSql {
  import PortableHash._

  /** `Dedup.normalize`: lowercase, collapse whitespace, trim. */
  def normalize(e: String): String =
    s"trim(regexp_replace(lower($e), '\\s+', ' ', 'g'))"

  /** `TextAnalysis.tokens`: single-space split of normalized text. */
  def tokens(e: String): String = s"string_split(${normalize(e)}, ' ')"

  /** `Dedup.shingles` over a token-array expression `w`. */
  def shingles(w: String, n: Int): String =
    if (n == 1) s"list_distinct($w)"
    else
      s"(CASE WHEN len($w) >= $n THEN list_distinct(list_transform(" +
        s"generate_series(1, len($w) - ${n - 1}), " +
        s"i -> array_to_string($w[i:i+${n - 1}], ' '))) " +
        s"ELSE [array_to_string($w, ' ')] END)"

  /** `Dedup.hashedShingles` over the `text` column: the hash60 of each
    * distinct n-gram. `sep` goes before the lambda. */
  def hashedShinglesSql(n: Int, sep: String = "\n      "): String =
    s"list_transform(${shingles(tokens("text"), n)},${sep}s -> ${hash60Sql("s")})"

  /** `Dedup.jaccard` of two distinct-list expressions. */
  def jaccard(a: String, b: String): String =
    s"(len(list_intersect($a, $b)) / len(list_distinct($a || $b)))"

  /** MinHash signature value i over a pre-hashed list expression `hs`. */
  def minhash(hs: String, i: Int): String =
    s"list_min(list_transform($hs, h -> ${affineSql("h", i)}))"

  /** HLL register index of a pre-hashed expression `h` — mirrors
    * [[graft.operators.Sketch.hllBucket]] (low bucket bits). */
  def hllBucketSql(h: String): String =
    s"($h & ${graft.operators.Sketch.HllM - 1})"

  /** HLL first-set-bit rank of `h`'s remaining bits — mirrors
    * [[graft.operators.Sketch.hllRho]] (bit-length staircase, all-zero
    * word takes the field-width rank). */
  def hllRhoSql(h: String): String = {
    val bits = graft.operators.Sketch.HllBits
    val maxRho = graft.operators.Sketch.HllMaxRho
    s"(CASE WHEN ($h >> $bits) = 0 THEN $maxRho" +
      s" ELSE $maxRho - length(bin($h >> $bits)) END)"
  }

  /** Quantile-histogram bucket of an already-saturated token count `n`
    * — mirrors [[graft.operators.Sketch.qhistBucket]] past its
    * [[graft.operators.Sketch.QhistMaxN]] clamp. */
  def qhistBucketSql(n: String): String = s"length(bin($n * $n * $n * $n))"

  /** One present register's scaled harmonic term 2^(maxRho - r) —
    * mirrors [[graft.operators.Sketch.hllTerm]]. */
  def hllTermSql(r: String): String =
    s"(1::BIGINT << (${graft.operators.Sketch.HllMaxRho} - $r))"

  /** `Dedup.simhash16` over a token-array expression `w`. */
  def simhash16(w: String): String = {
    val hs = s"list_transform($w, s -> ${hash60Sql("s")})"
    val bits = (0 until 16).map { b =>
      s"(CASE WHEN list_sum(list_transform($hs, h -> ((h >> $b) & 1) * 2 - 1)) > 0 " +
        s"THEN ${1L << b} ELSE 0 END)"
    }
    s"CAST((${bits.mkString(" + ")}) AS BIGINT)"
  }

  /** Embedding quantization (`round(x * 1000)` as exact integer-valued
    * doubles) — makes every downstream dot/norm exact, hence
    * order-independent and engine-portable. */
  def quantVec(e: String): String =
    s"list_transform($e, x -> round(x::DOUBLE * 1000))"

  /** Exact dot product of two 1-based list expressions of length `dims`. */
  def dot(a: String, b: String, dims: Int): String =
    s"list_sum(list_transform(generate_series(1, $dims), i -> $a[i] * $b[i]))"

  /** Cosine similarity matching `Similarity.cosine`. */
  def cosine(a: String, b: String, dims: Int): String =
    s"(${dot(a, b, dims)} / (sqrt(${dot(a, a, dims)}) * sqrt(${dot(b, b, dims)})))"

  /** `TextAnalysis.langId` over a token-list expression `w`: argmax of
    * per-language marker-token counts, first-listed language wins ties,
    * `und` when nothing hits. Score expressions are inlined per use —
    * oracle-side clarity over shared subexpressions. */
  def langPred(w: String): String = {
    val scores = graft.operators.TextAnalysis.langMarkers.map {
      case (l, ms) =>
        l -> s"len(list_filter($w, t -> list_contains(${ms.map(m => s"'$m'").mkString("[", ", ", "]")}, t)))"
    }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val pick = scores.map { case (l, e) => s"WHEN $e = $best THEN '$l'" }
      .mkString(" ")
    s"(CASE WHEN $best > 0 THEN (CASE $pick ELSE 'und' END) ELSE 'und' END)"
  }

  /** SQL literal for one LSH hyperplane of `Similarity.hyperplane`. */
  def hyperplaneLit(t: Int, p: Int, dims: Int): String =
    graft.operators.Similarity.hyperplane(t, p, dims)
      .map(v => v.toLong.toString).mkString("([", ", ", "]::DOUBLE[])")

  /** Bucket value of vector expression `v` in LSH table `t`: sum of
    * sign-bit weights against the table's hyperplanes (mirrors
    * `Similarity.withHyperplaneBuckets`). */
  def lshBucket(v: String, t: Int, planes: Int, dims: Int): String =
    (0 until planes).map { p =>
      s"(CASE WHEN ${dot(v, hyperplaneLit(t, p, dims), dims)} > 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** `PrefixSum.hashOrdered`'s `bkt` and `ord` select items over hash
    * text `h`. */
  def hashOrderSql(h: String): String =
    s"$h % ${graft.operators.PrefixSum.Buckets} AS bkt, $h AS ord"

  /** `PrefixSum.hashOrderedRunningSum` as the flat sequential window its
    * two-level decomposition must equal: the running SUM of `value` in
    * (bkt, ord, `ids`) order, per `partBy` group when given. `wrap`
    * breaks the line after `OVER (`. */
  def runningSumSql(value: String, ids: String, partBy: String = "",
      wrap: Boolean = true): String = {
    val part = if (partBy.isEmpty) "" else s"PARTITION BY $partBy "
    val lead = if (wrap) "\n      " else ""
    s"CAST(SUM($value) OVER ($lead${part}ORDER BY bkt, ord, $ids\n" +
      "      ROWS UNBOUNDED PRECEDING) AS BIGINT)"
  }
}
