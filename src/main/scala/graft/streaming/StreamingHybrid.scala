package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.queries.TextQueries

/** HYBRID retrieval serving — the fusion twin next to the filtered and
  * probe-pruned serving writers: each arriving query carries its text
  * AND its vector, and a micro-batch is answered by BM25 against the
  * once-built static lexical index ([[TextQueries.LexIndex]] —
  * tf/df/dl + the two scalars, checkpointed by the caller) fused with
  * an exact dense-cosine ranking against the static vector corpus via
  * reciprocal-rank fusion.
  *
  * Every stage is the BATCH kernel verbatim: the query-side tf is
  * [[TextQueries.termTf]], which also builds the corpus index, the
  * qterms/candidate/rank construction is [[TextQueries.bm25Serve]]
  * (the `corpus_bm25` chain with the query tf as a parameter), the
  * dense branch is [[TextQueries.denseRanks]], and the fusion is
  * [[TextQueries.rrfFuse]] — the ONE implementation the batch
  * `corpus_hybrid_rrf` also calls, so serving can never drift from
  * the oracle-checked ranking. StreamingSpec pins streamed results
  * row-identical to the batch query on the same query set.
  *
  * Per batch at scale: the query-term frame broadcasts onto the
  * term-keyed tf index (the corpus never reshuffles for lexical
  * scoring), the dense branch broadcasts the query batch onto the
  * vector corpus, and the fusion outer-joins two ≤ 5·|batch|-row
  * frames — everything corpus-sized stays put.
  */
object StreamingHybrid {

  /** `queries`: streaming frame `(query_doc long, text string,
    * qv array<double> | null)` — a null/absent vector degrades that
    * query to lexical-only, exactly like a corpus document without an
    * embedding. `ix`: the static lexical index; `corpusVecs`: the
    * static quantized vector corpus `(vec_id, qv)`. */
  def serveWriter(queries: DataFrame, ix: TextQueries.LexIndex,
      corpusVecs: DataFrame, k: Int = 5)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val lex = TextQueries.bm25Serve(TextQueries.termTf(batch, col("query_doc")), ix)
        val den = TextQueries.denseRanks(
          batch.filter(col("qv").isNotNull)
            .select(col("query_doc").as("vec_id"), col("qv")),
          corpusVecs, "vec_id", "qv", k)
        sink(TextQueries.rrfFuse(lex, den))
      }

  /** Cross-modal retrieval serving — the streaming twin of the batch
    * `mm_hybrid_rrf`: each arriving media query carries its document
    * TEXT and its decoded FEATURE vector `(query_doc long, text string,
    * qv array<double>)`, and a micro-batch is answered by the BM25
    * lexical ranking of the text against the once-built corpus index
    * fused (same [[TextQueries.rrfFuse]] kernel) with exact
    * feature-space cosine kNN against the static signature corpus —
    * batch kernels verbatim, so serving can never drift from the
    * oracle-checked ranking. `ix` / `featCorpus` are the once-built
    * static structures (checkpointed by the caller, the LexIndex
    * doctrine). Per batch at scale: the query-term frame and the query
    * vectors broadcast; the tf index and signature corpus never
    * reshuffle. StreamingSpec pins streamed results row-identical to
    * the batch query on the same query set. */
  def serveMediaRrfWriter(queries: DataFrame, ix: TextQueries.LexIndex,
      featCorpus: DataFrame, k: Int = 5)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val lex = TextQueries.bm25Serve(TextQueries.termTf(batch, col("query_doc")), ix)
        val den = TextQueries.denseRanks(
          batch.select(col("query_doc").as("vec_id"), col("qv")),
          featCorpus, "vec_id", "qv", k)
        sink(TextQueries.rrfFuse(lex, den)
          .withColumnRenamed("dense_rk", "feat_rk"))
      }

  /** Graph-augmented recommendation serving — the streaming twin of
    * the batch `corpus_graph_rrf`: each arriving query item `(query_doc
    * long, qv array<double>)` is answered by content-similarity kNN
    * against the static vector corpus fused (same [[TextQueries
    * .rrfFuse]] kernel) with its 1-hop co-purchase neighbors ranked by
    * support × converged PPR hub authority ([[graft.queries
    * .AnalyticsQueries.graphAuthorityServe]] — the ONE graph-branch
    * implementation, so serving can never drift from the oracle-checked
    * ranking). `edges`/`ppr` are the once-built static graph structures
    * (checkpointed by the caller, the LexIndex doctrine). Per batch at
    * scale: both branches broadcast only the query batch — the
    * adjacency, the rank table, and the vector corpus never reshuffle.
    * StreamingSpec pins streamed results row-identical to the batch
    * query on the same query set. */
  def serveGraphRrfWriter(queries: DataFrame, edges: DataFrame,
      ppr: DataFrame, corpusVecs: DataFrame, k: Int = 5)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val den = TextQueries.denseRanks(
          batch.select(col("query_doc").as("vec_id"), col("qv")),
          corpusVecs, "vec_id", "qv", k)
        val graph = graft.queries.AnalyticsQueries.graphAuthorityServe(
          batch.select(col("query_doc")), edges, ppr)
        sink(TextQueries.rrfFuse(graph, den)
          .withColumnRenamed("lex_rk", "graph_rk"))
      }
}
