package graft.ir

import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RM1/RM3 pseudo-relevance feedback (`GenerateFeedbackQueriesHBase`):
  * the one dataflow behind `Jobs.generateFeedbackQueries` and the
  * oracle-gated ir18 (RM1), ir19 (RM3) and ir28 (its grid over RM1).
  */
object Feedback {

  /** RM1 weight of a term in one feedback doc: P(t|d) · exp(score). */
  val rm1Contrib = "(tf / dl) * exp(score)"

  /** RM1 over each query's top `fbDocs` Dirichlet docs, P11-cleaned
    * (len ≥ 3, no digits; `GenerateFeedbackQueriesHBase.java:366-377,
    * 438-488`) → (qid, term, w, wn = round(w / Σ_qid w, 6), frank by
    * round(w / Σ_qid w, 9) DESC, term: round-then-rank, so sum-order
    * ulps cannot swap terms between engines). dl and Σ_qid w are
    * windows: join-back clones of the tokenize subtree get specialized
    * apart, so ReusedExchange cannot dedupe them (ir19: 24 → 6 scans).
    */
  def rm1(docs: DataFrame, q: DataFrame, fbDocs: Int): DataFrame =
    Retrieval.scoreFor(docs, q, Retrieval.lmdirPart, Retrieval.lmdirFinal,
        conjunctive = false, fbDocs)
      .select("qid", "doc_id", "score")
      .join(Retrieval.withDocLength(TextOps.termFreqs(docs)), Seq("doc_id"))
      .filter(expr("length(term) >= 3 AND NOT term RLIKE '[0-9]'"))
      .withColumn("contrib", expr(rm1Contrib))
      .groupBy("qid", "term").agg(sum("contrib").as("w"))
      .withColumn("tot", expr("sum(w) OVER (PARTITION BY qid)"))
      .withColumn("wn", expr("round(w / tot, 6)"))
      .withColumn("frank",
        expr("row_number() OVER (PARTITION BY qid ORDER BY round(w / tot, 9) DESC, term)"))
      .select("qid", "term", "w", "wn", "frank")

  /** RM3 (`FeatureVector.clip:66-84`, `normalize:86-107`,
    * `interpolate:173-190`) → (qid, term, w3), not rounded: w3 =
    * λ·qtf/qlen + (1−λ)·wc over the full outer join of the query terms,
    * aggregated to (qid, term, qtf), and [[rm1]] clipped to its top
    * `fbTerms` terms and renormalized to wc (a window, as in rm1).
    */
  def rm3(rm1: DataFrame, q: DataFrame, fbTerms: Int,
          lambda: Double): DataFrame = {
    val clipn = rm1.filter(col("frank") <= fbTerms)
      .select(col("qid"), col("term"),
        expr("w / sum(w) OVER (PARTITION BY qid)").as("wc"))
    q.groupBy("qid", "term").agg(count(lit(1)).as("qtf"))
      .join(Retrieval.qlenOf(q), Seq("qid"))
      .join(clipn, Seq("qid", "term"), "full_outer")
      .select(col("qid"), col("term"),
        (coalesce(lit(lambda) * (col("qtf") / col("qlen")), lit(0.0)) +
          coalesce(lit(1 - lambda) * col("wc"), lit(0.0))).as("w3"))
  }
}
