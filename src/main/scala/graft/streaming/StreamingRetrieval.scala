package graft.streaming

import graft.ir.Retrieval
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming sequential-scan retrieval.
  *
  * The reference's MIREX model ("scan the whole collection, score all
  * queries against each document", SURVEY §0) is embarrassingly
  * streaming: each arriving document is scored against the broadcast
  * query set independently. This module runs the SAME scoring
  * expression strings as the batch engine over a document stream —
  * collection statistics are provided (from a stats file or a prior
  * batch pass), exactly like the reference's side-loaded stats jobs
  * (`ClueWebRunQueriesSideLoad`).
  *
  * Scale: stateless per-document scoring (narrow ops + broadcast
  * joins) until the final per-(qid, doc) aggregation, whose state is
  * bounded by matched pairs in flight; rankings update as the corpus
  * streams in (complete-mode top-k in the memory demo; at production
  * scale, sink score rows and rank downstream).
  */
object StreamingRetrieval {

  /** Score a (doc_id, text) document stream against (qid, term[, w…])
    * queries with provided collection stats. Emits one row per
    * (qid, doc_id) with the aggregated score — append-safe input side,
    * aggregation runs in update/complete mode.
    *
    * `conjunctive` is the batch engine's n_matched = qlen gate
    * (Retrieval.scoreWithStats): conjunctive models (LMno) must DROP
    * docs matching only a subset of the query's terms — without it a
    * partial-match doc gets a finite score from its matched terms
    * alone and streaming rankings silently diverge from the
    * batch/oracle rankings the scaladoc promises to reproduce. The
    * gate is a post-aggregation filter, legal in every streaming
    * output mode.
    */
  def scoreStream(docsStream: DataFrame, qAug: DataFrame, collLength: Long,
                  nDocs: Long, partExpr: String, finalExpr: String,
                  conjunctive: Boolean = false): DataFrame = {
    // tf is computed per-document from the token ARRAY (distinct terms
    // + count-in-array), not via a groupBy — Structured Streaming
    // forbids chained aggregations, and this keeps every operator
    // before the final score aggregation narrow/stateless.
    val tf = docsStream
      .select(col("doc_id"),
        // TextOps.tokensCol, not an inline regex copy (review r16):
        // the batch engine and the DuckDB oracle tokenize through the
        // ONE definition; a second copy here could silently diverge
        // the streaming rankings this module promises to reproduce
        filter(TextOps.tokensCol(col("text")), t => t =!= "").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("dl"), col("toks"),
        explode(array_distinct(col("toks"))).as("term"))
      .withColumn("tf",
        size(filter(col("toks"), t => t === col("term"))).cast("long"))
      .drop("toks")
    // the batch engine's matched-rows builder and the stream-legal
    // half of its scorer: no window, the one aggregation is the score
    Retrieval.aggregateModels(
        Retrieval.matchedWithStats(tf, qAug, collLength, nDocs),
        Seq(("", partExpr, finalExpr, conjunctive)))
      .select("qid", "doc_id", "score")
  }

  /** Demo driver: stream into an in-memory sink in complete mode. */
  def toMemory(scored: DataFrame, queryName: String): StreamingQuery =
    scored.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
}
