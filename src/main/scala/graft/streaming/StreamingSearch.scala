package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Similarity

/** Streaming twin of the batch `sim_pq_adc` query: ADC SERVING — the
  * other half of the ingest-while-serving pair next to
  * [[StreamingIndex]]. Queries arrive on a stream; each micro-batch
  * runs the SAME ADC kernel ([[Similarity.pqAdcSearch]]) the batch
  * query uses, against the static PQ-coded corpus and trained
  * codebook.
  *
  * `foreachBatch` is the honest architecture here, not a fallback: ADC
  * needs a per-query aggregation plus a top-k, which Structured
  * Streaming's append mode cannot express over an unbounded stream —
  * and a real vector-search service answers each request batch against
  * the index AS OF that moment, which is exactly micro-batch
  * semantics. Per batch: the query-side distance table (|batch| × 32
  * rows) broadcasts onto the coded corpus, the corpus never
  * reshuffles, and results flow to the caller's sink. Reusing the
  * batch kernel verbatim is the correctness argument — StreamingSpec
  * pins streamed results equal to the batch query on the same query
  * set.
  */
object StreamingSearch {

  /** `queries`: streaming frame with (query_id long, qv array<double>,
    * integer-quantized). `codes`/`cb`: the static coded corpus and
    * trained codebook (see [[Similarity.pqAdcSearch]]). Each
    * micro-batch's top-k per query is handed to `sink`. */
  def serveWriter(queries: DataFrame, codes: DataFrame, cb: DataFrame,
      k: Int)(sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(Similarity.pqAdcSearch(batch, codes, cb, k))
      }

  /** One generation of a probe-pruned IVF-PQ index: the cell-assigned
    * coded corpus, the trained codebook, and the trained centroids —
    * everything [[Similarity.ivfPqSearch]] reads. A retrain produces a
    * NEW generation (new centroids ⇒ new cell assignment) while the
    * codebook may carry over. */
  final case class IvfPqIndex(cellCodes: DataFrame, cb: DataFrame,
      cents: DataFrame)

  /** HOT-SWAPPABLE probe-pruned serving — [[servePrunedWriter]] with
    * the index read through an AtomicReference each micro-batch: the
    * zero-downtime index rollover a serving fleet performs after a
    * retrain (`sim_index_retrain` produces the new generation; the
    * operator calls `index.set(...)` and the NEXT batch probes it —
    * in-flight batches finish on the generation they started with,
    * so every answer is consistent with exactly one index). The swap
    * spec pins pre-swap output ≡ the stale-index batch search and
    * post-swap output ≡ the retrained-index batch search. */
  def servePrunedSwappableWriter(queries: DataFrame,
      index: java.util.concurrent.atomic.AtomicReference[IvfPqIndex],
      nprobe: Int, k: Int)(sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ix = index.get()
        sink(Similarity.ivfPqSearch(batch, ix.cellCodes, ix.cb, ix.cents,
          nprobe, k))
      }

  /** Probe-pruned serving — [[serveWriter]] with the full-corpus ADC
    * scan replaced by the composed IVF-PQ kernel
    * ([[Similarity.ivfPqSearch]]): each micro-batch's queries probe
    * their `nprobe` nearest trained cells and ADC-score only those
    * cells' code rows. Same static index (`cellCodes` =
    * sim_index_build's rows with codes unpacked, never reshuffled),
    * per-query work down by ~nprobe/k_cells — the shape that survives
    * a 100 TB corpus. StreamingSpec pins streamed results equal to the
    * batch `sim_ivfpq_search` on the same query set. */
  def servePrunedWriter(queries: DataFrame, cellCodes: DataFrame,
      cb: DataFrame, cents: DataFrame, nprobe: Int, k: Int)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(Similarity.ivfPqSearch(batch, cellCodes, cb, cents, nprobe, k))
      }

  /** Refined serving (IVFADC+R) — the complete production pipeline per
    * micro-batch: probe nprobe trained cells, residual-ADC-rank their
    * codes ([[Similarity.ivfPqResidualSearch]]) to an `rWidth`-wide
    * shortlist, then decide the top-k by exact squared-L2 on the raw
    * vectors of just those candidates ([[Similarity.rerankExact]] — a
    * per-query point-lookup gather against the static `corpus` frame,
    * which never reshuffles). Both stages reuse the batch kernels
    * verbatim; StreamingSpec pins streamed results equal to the batch
    * `sim_ivfpq_rerank` on the same query set. */
  def serveRerankWriter(queries: DataFrame, resCellCodes: DataFrame,
      resCb: DataFrame, cents: DataFrame, corpus: DataFrame,
      nprobe: Int, rWidth: Int, k: Int)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val shortlist = Similarity.ivfPqResidualSearch(
          batch, resCellCodes, resCb, cents, Seq(nprobe), rWidth)
        sink(Similarity.rerankExact(shortlist, batch, corpus, k))
      }

  /** FILTERED serving — metadata-predicated vector search per
    * micro-batch ([[Similarity.knnIvfFilteredQueries]]): the
    * searchable side (`assignedNbrs` — the assigned corpus already
    * restricted to the predicate's ids, `(__id, __v, cell_id)`) is
    * built ONCE offline and checkpointed; each arriving query batch
    * ranks the broadcast trained centroids for its nprobe cells and
    * exact-cosine re-ranks only the probed cells' predicate-passing
    * members. Pre-filtering at the index, not after the top-k — the
    * same recall argument the batch `sim_filtered_search` pins, now
    * at serving time. StreamingSpec pins streamed results equal to
    * the batch query on the same query set. */
  def serveFilteredWriter(queries: DataFrame, assignedNbrs: DataFrame,
      cents: DataFrame, nprobe: Int, k: Int)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(Similarity.knnIvfFilteredQueries(
          batch, "query_id", "qv", k, assignedNbrs, cents, nprobe))
      }

  /** Serving over base ∪ admitted-delta BETWEEN retrains — the third
    * beat of the index lifecycle next to the retrain hot-swap
    * ([[servePrunedSwappableWriter]]): the searchable side (the
    * assigned `(__id, __v, cell_id)` corpus) is read through an
    * AtomicReference per micro-batch, and the ADD path grows it
    * WITHOUT a retrain — [[graft.operators.Similarity
    * .ivfAssignCentroids]] assigns a batch of new vectors against the
    * SAME (stale-generation) centroids, the operator sets the
    * reference to base ∪ delta, and the NEXT query batch searches the
    * admitted vectors. Because assignment is per-vector under fixed
    * centroids, offline-build + stateless-admit is row-identical to
    * rebuilding on base+delta (the batch `sim_index_serve_delta` row
    * grades exactly this) — so admits are cheap, immediate, and lose
    * nothing; the queries keep the external-id-space contract
    * (`excludeSelfId = false`). StreamingSpec pins pre-admit serving
    * ≡ the batch kernel over base and post-admit ≡ over the union,
    * with a delta-only neighbor appearing only after the admit. */
  def serveAssignedSwappableWriter(queries: DataFrame,
      assigned: java.util.concurrent.atomic.AtomicReference[DataFrame],
      cents: DataFrame, nprobe: Int, k: Int)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(Similarity.knnIvfFilteredQueries(
          batch, "query_id", "qv", k, assigned.get(), cents, nprobe,
          excludeSelfId = false))
      }

  /** GRAPH-TRAVERSAL serving — the streaming twin of the batch
    * `sim_graph_search` row: each arriving query batch enters at its
    * nearest cell (broadcast centroid argmin), seeds the beam with
    * that cell's members off the checkpointed assignment, and runs
    * the SAME bounded [[Similarity.graphBeamSearch]] hops over the
    * checkpointed O(n·degree) edge list — per query the traversal
    * touches |entry| + hops·beam·degree rows no matter how large the
    * corpus is, which is the property that makes this the
    * lowest-cost-per-query serving shape on the board. Reusing the
    * batch kernels verbatim is the correctness argument:
    * StreamingSpec pins streamed results row-identical to the batch
    * query on the same query set.
    *
    * `excludeSelfId` has NO default (nor on
    * [[serveGraphSwappableWriter]] — the two adjacent graph-serving
    * APIs previously defaulted to opposite values, so switching
    * between them silently changed the id-space contract): the caller
    * must state it. Pass `true` only when the streamed queries ARE
    * corpus members (the batch-twin parity contract); a deployment
    * serving genuinely external queries whose id space may collide
    * with corpus vec_ids must pass `false` (the external-serving
    * contract of [[serveAssignedSwappableWriter]]), else a colliding
    * query id silently drops that corpus vector from its own
    * results. */
  def serveGraphWriter(queries: DataFrame, cents: DataFrame,
      assigned: DataFrame, edges: DataFrame,
      hops: Int, beam: Int, k: Int,
      excludeSelfId: Boolean,
      entryCells: Int = 1)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(Similarity.graphSearchQueries(
          batch, cents, assigned, edges, hops, beam, k,
          excludeSelfId = excludeSelfId, entryCells = entryCells))
      }

  /** One generation of the graph index — everything serving reads:
    * the cell assignment (the ADD path grows it between rebuilds) and
    * the O(n·degree) edge list (only a REBUILD replaces it). */
  final case class GraphIndex(assigned: DataFrame, edges: DataFrame)

  /** The graph index's REBUILD hot-swap — the lifecycle beat
    * `sim_graph_delta_drift` prices (rebuild before the admitted
    * delta reaches ~1/3 of the served corpus, SCALE.md): both sides
    * of the index are read through ONE AtomicReference per
    * micro-batch, so when the offline rebuild finishes (fresh edges
    * over base ∪ delta, same or retrained assignment) the operator
    * sets the reference and the NEXT query batch traverses the fresh
    * generation — in-flight batches finish on the generation they
    * started with, every answer consistent with exactly one index
    * (the servePrunedSwappableWriter doctrine). `entryCells` rides
    * along: the entry-width knob stays turnable across swaps.
    * StreamingSpec pins pre-swap serving ≡ the batch kernel on the
    * stale generation and post-swap ≡ on the rebuilt one. */
  def serveGraphRebuildSwappableWriter(queries: DataFrame,
      index: java.util.concurrent.atomic.AtomicReference[GraphIndex],
      cents: DataFrame,
      hops: Int, beam: Int, k: Int,
      excludeSelfId: Boolean,
      entryCells: Int = 1)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ix = index.get()
        sink(Similarity.graphSearchQueries(
          batch, cents, ix.assigned, ix.edges, hops, beam, k,
          excludeSelfId = excludeSelfId, entryCells = entryCells))
      }

  /** GRAPH serving over base ∪ admitted-delta BETWEEN rebuilds — the
    * graph index's ADD path (the [[serveAssignedSwappableWriter]]
    * lifecycle beat, r13's missing rung): the serve-side ASSIGNMENT is
    * read through an AtomicReference per micro-batch and grows by
    * stateless broadcast-argmin admits under the same fixed centroids
    * ([[Similarity.ivfAssignCentroids]]); the O(n·degree) EDGE LIST
    * stays the offline base build, untouched by admits. An admitted
    * vector is reachable the NEXT query batch through the entry stage
    * — the seed beam scans the query's cell members off the
    * assignment, so no edge needs to point at it (per-vector
    * assignment makes the entry seeding row-identical to a rebuild's;
    * the batch `sim_graph_serve_delta` row grades exactly this
    * composition). `excludeSelfId` has NO default (see
    * [[serveGraphWriter]] — the caller states the id-space contract
    * explicitly); external serving, like every swappable path, wants
    * `false`. StreamingSpec pins pre-admit serving ≡ the batch kernel
    * over base and post-admit ≡ over the union, with a delta vector
    * served only after its admit. */
  def serveGraphSwappableWriter(queries: DataFrame,
      assigned: java.util.concurrent.atomic.AtomicReference[DataFrame],
      cents: DataFrame, edges: DataFrame,
      hops: Int, beam: Int, k: Int,
      excludeSelfId: Boolean)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(Similarity.graphSearchQueries(
          batch, cents, assigned.get(), edges, hops, beam, k,
          excludeSelfId = excludeSelfId))
      }
}
