package graft.ir

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The collection-statistics dataflows of `QueryTermCount`,
  * `ClueWebCollectionStats`, `TrecMutualInfo` and `TrecQueryStats`:
  * the CLI jobs in `graft.jobs.Jobs` and the oracle-gated ir03, ir04,
  * ir09–ir11 and ir21 all call these. `tf` is (doc_id, term, tf) from
  * `TextOps.termFreqs`.
  */
object CorpusStats {

  /** (term, df, cf) in one pass (`ClueWebCollectionStats.java:104-131`). */
  def termStats(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  /** The one-row (n_docs, n_terms, n_tokens) header
    * (`ClueWebCollectionStats.java:157-174`); n_docs counts docs with a
    * token. n_tokens is 0 on a corpus without tokens (`sum` of no rows
    * is NULL).
    */
  def collectionStats(tf: DataFrame): DataFrame =
    tf.agg(countDistinct(col("doc_id")).as("n_docs"),
      countDistinct(col("term")).as("n_terms"),
      coalesce(sum("tf"), lit(0L)).as("n_tokens"))

  /** (w1, w2, n11), w1 < w2, over DISTINCT (doc_id, term) rows. The
    * self-join is quadratic in a doc's distinct terms, as the
    * reference's mapper is (`TrecMutualInfo.java:139-166`).
    */
  def pairCounts(docTerms: DataFrame): DataFrame =
    docTerms.alias("a")
      .join(docTerms.alias("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("w1"), col("b.term").as("w2"))
      .agg(count(lit(1)).as("n11"))

  /** (qterm, dterm, n_docs, sum_minf): per query-term × doc-term pair,
    * the docs holding both and Σ min(tf_q, tf_d), doc terms in `stop`
    * dropped (`TrecQueryStats.java:128-186`). `qterms` is a distinct
    * `term` column, broadcast.
    */
  def queryCooccurrence(tf: DataFrame, qterms: DataFrame,
                        stop: Seq[String]): DataFrame =
    tf.join(broadcast(qterms), Seq("term"))
      .select(col("doc_id"), col("term").as("qterm"), col("tf").as("tfq"))
      .join(tf.filter(!col("term").isin(stop: _*))
        .select(col("doc_id"), col("term").as("dterm"), col("tf").as("tfd")),
        Seq("doc_id"))
      .groupBy("qterm", "dterm")
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(least(tfq, tfd)) AS BIGINT)").as("sum_minf"))
}
