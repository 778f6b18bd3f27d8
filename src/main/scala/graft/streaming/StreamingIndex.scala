package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Streaming twin of the batch `sim_index_build` capstone: ANN index
  * MAINTENANCE. New vectors arriving on a stream are assigned their IVF
  * cell and their 4 packed PQ codes against the TRAINED centroids /
  * codebook — the ingest-while-serving shape a production vector index
  * runs (the index serves ADC queries while this path keeps admitting
  * new vectors).
  *
  * Completely STATELESS and map-only: the trained centroids and
  * codebook are index METADATA (k·dims integer-valued doubles — small
  * by construction, exactly what a real index broadcasts to its
  * writers), folded into the plan as literal arrays, and each arriving
  * vector's cell/code argmins run as the native compiled
  * [[graft.functions.VectorFunctions.ArgminD2]] loop over those
  * literals. No state store, no watermark, no shuffle — a micro-batch
  * of N vectors is N independent rows, so the operator scales with
  * executor count and admits at scan speed.
  *
  * The argmin fold keeps (best d2, best id) and takes the FIRST minimum
  * in array order; the literal arrays are sorted by id, so ties resolve
  * to the lowest id — bit-identical to the batch side's
  * `min(struct(d2, cent_id))` over the same integer-exact distances
  * (StreamingSpec pins streamed assignments equal to the batch index
  * row-for-row).
  */
object StreamingIndex {

  /** One literal (id, vector) entry folded into the plan. */
  private def entryLit(id: Long, v: Seq[Double]): Column =
    struct(lit(id).as("id"), array(v.map(lit): _*).as("v"))

  /** First-minimum argmin of `vec` against a literal entry array:
    * returns struct(d2, id) — ties fall to the earliest (lowest-id)
    * entry, matching `min(struct(d2, id))`. Runs as the native
    * compiled loop ([[graft.functions.VectorFunctions.ArgminD2]]);
    * VectorFunctionsSpec pins it bit-for-bit against an `aggregate`-fold
    * argmin, and the streamed-equals-batch StreamingSpec pin covers the
    * end-to-end. */
  private def argmin(entries: Seq[(Long, Seq[Double])], vec: Column): Column = {
    // fail-loud doctrine (see Tables): an empty entry list would fold the
    // (Double.MaxValue, Long.MaxValue) sentinel into every output row —
    // garbage cell ids/codes instead of an error at plan-build time
    require(entries.nonEmpty, "argmin over an empty centroid/codeword list")
    graft.functions.VectorFunctions.vecArgminD2(vec,
      array(entries.sortBy(_._1).map { case (id, v) => entryLit(id, v) }: _*))
  }

  /** `vecs`: streaming frame with (vec_id long, qv array<double>,
    * integer-quantized). `cents`: trained IVF centroids (cent_id,
    * cent_v). `codebook`: trained PQ codewords (sub, code, cv) with 4
    * subspaces × 16 dims. Emits the batch index row per vector:
    * (vec_id, cell_id, pq16, recon_d2), append-mode, stateless. The
    * 4 codes pack base-16 (code·16^sub, 4 bits each) — the same layout
    * as the batch `sim_index_build`. */
  def indexStream(vecs: DataFrame,
      cents: Seq[(Long, Seq[Double])],
      codebook: Seq[(Int, Long, Seq[Double])]): DataFrame = {
    val cell = argmin(cents, col("qv"))
    val subs = (0 until 4).map { sub =>
      val cw = codebook.filter(_._1 == sub).map { case (_, code, v) => (code, v) }
      val best = argmin(cw, slice(col("qv"), sub * 16 + 1, 16))
      (best.getField("id") * lit(math.pow(16, sub).toLong),
        best.getField("d2").cast("long"))
    }
    vecs.select(col("vec_id"),
      cell.getField("id").as("cell_id"),
      subs.map(_._1).reduce(_ + _).as("pq16"),
      subs.map(_._2).reduce(_ + _).as("recon_d2"))
  }
}
