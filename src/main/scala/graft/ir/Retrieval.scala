package graft.ir

import graft.Tables
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequential-scan retrieval, Spark-first (SURVEY.md §3.1 "Spark shape").
  *
  * The reference scores every query against every document in one pass
  * over the corpus with the query set held in task memory
  * (`nl/utwente/mirex/TrecRun.java:123-150`). Our dataflow:
  *
  *   docs → tokenize → tf + dl window → [[matchedRows]]: broadcast joins
  *        of the query terms, term stats, qlen and collection stats
  *        → [[scoreModels]]: groupBy(qid, doc) agg(score) → gate
  *        → window top-k
  *
  * i.e. the cross-score "join" becomes a broadcast HASH join on `term`
  * (not a nested loop), partial aggregation runs map-side, and the only
  * shuffles are the groupBy on (qid, doc_id) and the top-k window on
  * qid. At 100 TB the corpus side never materializes more than the
  * matched (doc, query-term) pairs — the semi-join pruning the reference
  * hand-codes (`TrecRun.java:131`) falls out of the equi-join.
  *
  * The doc-vector and inverted indexes, the provided-stats
  * (TrecRunBaselines) path and the streaming scan feed their own rows
  * into the same builder and scorer.
  *
  * Scoring formulas are carried as SQL expression STRINGS compiled with
  * `expr(...)` — the same strings are embedded in the DuckDB oracle, so
  * the floating-point math is identical on both engines by construction.
  * All formulas cite the reference implementation they re-express.
  */
object Retrieval {

  /** Literal evaluation query set (terms from the synthetic corpus
    * vocabulary). qtf = 1 for every term, as in the reference's plain
    * topic format (`TrecRun.java:91-106`).
    */
  val querySet: Seq[(String, Seq[String])] = Seq(
    "51" -> Seq("spark", "join"),
    "52" -> Seq("window", "filter", "sort"),
    "53" -> Seq("fast", "data", "merge"),
    "54" -> Seq("stream", "batch"),
    "55" -> Seq("hash", "table", "scan"))

  /** (qid, term) rows as a DuckDB VALUES clause. */
  val duckQueryValues: String =
    querySet
      .flatMap { case (qid, ts) => ts.map(t => s"('$qid','$t')") }
      .mkString("(VALUES ", ",", ") v(qid, term)")

  /** Weighted query set (FIXTURES.md §4 weighted-topic semantics,
    * reference reader `RunQueryHBase.java:138-161`): explicit
    * per-term weights, e-notation literals for cross-engine parity.
    */
  val weightedQuerySet: Seq[(String, Seq[(String, Double)])] = Seq(
    "61" -> Seq("spark" -> 0.7, "join" -> 0.3),
    "62" -> Seq("window" -> 0.5, "filter" -> 0.25, "sort" -> 0.25),
    "63" -> Seq("stream" -> 0.9, "batch" -> 0.1))

  val duckWeightedQueryValues: String =
    weightedQuerySet
      .flatMap { case (qid, ts) =>
        ts.map { case (t, w) => s"('$qid','$t',CAST($w AS DOUBLE))" }
      }
      .mkString("(VALUES ", ",", ") v(qid, term, w)")

  // ---- scoring formulas (identical strings on both engines) ----
  // Row context: tf, dl, df, cf, qlen, n_docs, n_tokens (all BIGINT).

  /** LM no smoothing, log domain; conjunctive — docs missing any query
    * term are dropped by the `n_matched = qlen` gate.
    * Ref: `TrecRun.java:108-116` (product form with doc-length prior).
    */
  val lmnoPart = "ln(tf / dl)"
  val lmnoFinal = "round(score_sum + ln(dl), 6)"

  /** Jelinek-Mercer smoothing, λ=0.5, zero-floor semantics (only docs
    * matching ≥1 term emitted). Ref: `TrecRunBaselines.java:168-180`.
    * Fractional literals use e-notation — DOUBLE in both engines (bare
    * `0.5` would be DECIMAL in Spark; see IrQueries cross-engine rule).
    *
    * Association order (review r14): divide into DOUBLE before any
    * BIGINT×BIGINT product — the old `tf * n_tokens * λ / (cf * dl
    * * …)` grouped (tf·n_tokens) and (cf·dl) as Long products first,
    * which at the 100 TB design point (n_tokens ~ 2e13) overflows
    * Long: with ANSI off it silently WRAPS (mis-scoring the doc),
    * with ANSI on (this session's default) and in DuckDB it
    * hard-errors — wrong or dead exactly when it matters.
    * `(n_tokens / cf)` is the lmdirPart convention; the
    * string is SHARED with the oracle, so both engines carry the same
    * (floating-point-wise slightly re-associated) formula.
    */
  def lmjmPart(lam: String = "5e-1") =
    s"ln(1 + tf * $lam * (n_tokens / cf) / (dl * (1 - $lam)))"
  val lmjmFinal = "round(score_sum + ln(dl), 6)"

  /** Dirichlet smoothing, µ=2500. Ref: `TrecRunBaselines.java:210-220`. */
  val lmdirPart = "ln(tf * (n_tokens / cf) + 2500) - ln(dl + 2500)"
  val lmdirFinal = "round(score_sum, 6)"

  /** BM25, k1=1.2, b=0.75. Ref: `TrecRunBaselines.java:190-201,268`. */
  val bm25Part =
    "(1.2e0 + 1) * tf / (1.2e0 * ((1 - 7.5e-1) + 7.5e-1 * dl / (n_tokens / n_docs)) + tf)" +
      " * ln((n_docs - df + 5e-1) / (df + 5e-1))"
  val bm25Final = "round(score_sum, 6)"

  /** Two-stage smoothing (λ·cp mixed into Dirichlet), λ=0.3, µ=2500.
    * Ref: `RunQueryHBase.java:212-224`.
    */
  val twoStagePart =
    "ln((1 - 3e-1) * (tf + 2500 * (cf / n_tokens)) / (dl + 2500) + 3e-1 * (cf / n_tokens))"
  val twoStageFinal = "round(score_sum, 6)"

  /** Cross-entropy scoring (query-normalized log-ratio of the
    * Dirichlet-smoothed doc model to the collection model).
    * Ref: `RunQueryHBase.java:226-245`.
    */
  val xentPart =
    "(1e0 / qlen) * ln(((tf + 2500 * (cf / n_tokens)) / (dl + 2500)) / (cf / n_tokens))"
  val xentFinal = "round(score_sum, 6)"

  /** The (qid, term) rows of [[querySet]]. */
  def queryFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    querySet.flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
  }

  /** The matched (qid, doc, term) rows with all scoring stats attached,
    * over an ALREADY-BUILT (idCol, term, tf) frame — the sequential
    * scan's input to [[matchedRows]]. Queries that need the
    * term-frequency table for their own math as well as for scoring
    * (ir29 VSM, ir30 Rocchio) pass the one tf in, so the
    * tokenize+aggregate subtree is the same logical object in every
    * branch and its exchange is provably reusable — rather than
    * trusting two independently-built subtrees to canonicalize equal.
    * Broadcast sides: the query set (tiny) and the per-query-term stats
    * (|query vocab| rows). The corpus side streams.
    */
  def matchedTermsFromTf(tf: DataFrame, q: DataFrame,
                         idCol: String = "doc_id"): DataFrame = {
    // tstats and cs keep their own (column-pruned) tokenize branches —
    // forcing them through the windowed frame was tried and the
    // optimizer correctly prunes the unused dl and un-shares them
    // again; 4 scans/12 exchanges → 3/9, measured 10.9–12.1 s →
    // 10.0–10.6 s over the six sequential-scan queries (r5, matched
    // conditions). At 100 TB this whole debate is moot: tf+dl are the
    // materialized doc-vector index (ir/Index.scala, scoreFromIndex) —
    // the sequential-scan path is reference parity, not deployment.
    // n_docs = docs with ≥1 token, n_tokens = Σ tf (long sums:
    // order-independent, exact)
    matchedRows(withDocLength(tf, idCol), q,
      tf.agg(countDistinct(col(idCol)).as("n_docs"), sum("tf").as("n_tokens")),
      broadcast(tstatsFor(tf, q)) -> "term")
  }

  /** dl = Σ tf per doc (== token count) as a WINDOW over the tf frame,
    * not groupBy + join-back. The join-back formulation carried a 4th
    * tokenize subtree (Catalyst's pushdowns specialize the clones
    * apart, so ReusedExchange cannot merge them — the ir19/ir30
    * lesson) plus a sort-merge join of the full matched stream against
    * dl; the window replaces both with one exchange on the doc id.
    */
  private[graft] def withDocLength(tf: DataFrame,
                                   idCol: String = "doc_id"): DataFrame =
    tf.withColumn("dl", expr(s"sum(tf) OVER (PARTITION BY $idCol)"))

  /** THE matched-rows builder behind every retrieval path (scan,
    * doc-vector index, inverted index, provided stats, stream): the
    * query join, the stats joins, qlen and the collection stats, in
    * one fixed order, so the row context the scoring formulas read
    * (tf, dl, df, cf, qlen, n_docs, n_tokens) has one definition.
    *
    * @param rows  (<id>, term, tf, …) corpus-side rows with the stats
    *              their layout stores: dl on scan, doc-vector and
    *              stream rows, df/cf on inverted postings
    * @param q     (qid, term, …) query rows; augmented topics carry
    *              qtf/df/cf on them
    * @param coll  one row (n_docs, n_tokens)
    * @param stats the stats neither side carries, each frame joined on
    *              its key after the query join: the broadcast
    *              per-term df/cf of the scan and doc-vector paths, the
    *              inverted layout's (doc_id, dl) side table
    */
  private[graft] def matchedRows(rows: DataFrame, q: DataFrame,
                                 coll: DataFrame,
                                 stats: (DataFrame, String)*): DataFrame =
    stats
      .foldLeft(rows.join(broadcast(q), Seq("term"))) {
        case (m, (s, key)) => m.join(s, Seq(key))
      }
      .join(broadcast(qlenOf(q)), Seq("qid"))
      .crossJoin(broadcast(coll))

  /** [[matchedRows]] with stats PROVIDED by an augmented topic frame
    * (qid, term, qtf, df, cf) and the collection header as literals —
    * the TrecRunBaselines / side-loaded-stats dataflow.
    */
  private[graft] def matchedWithStats(rows: DataFrame, qAug: DataFrame,
                                      collLength: Long,
                                      nDocs: Long): DataFrame =
    matchedRows(rows, qAug, rows.sparkSession.range(1)
      .select(lit(nDocs).as("n_docs"), lit(collLength).as("n_tokens")))

  /** ONE definition of the per-query term count: every matched-rows
    * path and the RM3 interpolations take qlen from here, so a
    * qlen-convention change (e.g. deduping repeated query terms) lands
    * on the conjunctive gate of every scorer at once.
    */
  private[graft] def qlenOf(q: DataFrame): DataFrame =
    q.groupBy("qid").agg(count(lit(1)).as("qlen"))

  /** [[CorpusStats.termStats]] semi-joined to the query terms: the
    * per-term df/cf stats of the sequential scan and
    * [[Index.scoreFromIndex]] (the inverted layout carries its stats
    * precomputed on the postings rows, and augmented topics on the
    * query rows).
    */
  private[graft] def tstatsFor(tf: DataFrame, q: DataFrame): DataFrame =
    CorpusStats.termStats(tf)
      .join(q.select("term").distinct(), Seq("term"), "left_semi")

  /** [[matchedTermsFromTf]] bound to the testdata corpus + [[querySet]]. */
  def matchedTerms(spark: SparkSession, sfDir: String): DataFrame =
    matchedTermsFromTf(TextOps.termFreqs(Tables(spark, sfDir, "documents")),
      queryFrame(spark))

  /** Generic scoring pipeline → (qid, <idCol>, score, rank), top-k per
    * qid, for any (doc_id, text) corpus and (qid, term) query set.
    */
  def scoreFor(docs: DataFrame, q: DataFrame, partExpr: String,
               finalExpr: String, conjunctive: Boolean, k: Int,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    scoreMatched(
      matchedTermsFromTf(TextOps.termFreqs(docs, idCol, textCol), q, idCol),
      partExpr, finalExpr, conjunctive, k, idCol)

  /** Scoring stage alone, over an already-built matched-terms table —
    * one model through [[scoreModels]].
    */
  def scoreMatched(matched: DataFrame, partExpr: String,
                   finalExpr: String, conjunctive: Boolean, k: Int,
                   idCol: String = "doc_id"): DataFrame =
    scoreModels(matched, Seq(("", partExpr, finalExpr, conjunctive)), k,
      idCol)

  /** A retrieval model: (name, per-term part, final, conjunctive). */
  type Model = (String, String, String, Boolean)

  /** The TrecRunBaselines models (`TrecRunBaselines.java:168-220`) of
    * ir26 and `Jobs.trecRunBaselines`.
    */
  val baselineModels: Seq[Model] = Seq(
    ("LMno", lmnoPart, lmnoFinal, true),
    ("LMs", lmjmPart(), lmjmFinal, false),
    ("LMdi", lmdirPart, lmdirFinal, false),
    ("BM25", bm25Part, bm25Final, false))

  /** THE scorer, stream-legal half: part → group by (qid, <idCol>, dl,
    * qlen) → conjunctive gate (`n_matched = qlen`) → final score. One
    * model builds the plain plan; several (the TrecRunBaselines grid)
    * turn their parts into columns and `stack()` them into (model,
    * part) rows, so one aggregation over ONE pass of `matched` scores
    * every model, keyed by a leading `model` column. (A union of
    * per-model branches re-derives the matched rows per model:
    * per-model column pruning specializes the branches — LMno reads
    * only tf/dl, BM25 also df — so their exchanges never canonicalize
    * equal; measured on ir26, 12 parquet scans → 3 with the stack.)
    */
  private[graft] def aggregateModels(matched: DataFrame, models: Seq[Model],
                                     idCol: String = "doc_id"): DataFrame = {
    val keys = Seq("qid", idCol, "dl", "qlen")
    val (parted, gates, finalExpr) = models match {
      case Seq((_, part, fin, conj)) =>
        (matched.withColumn("part", expr(part)),
          if (conj) Seq("n_matched = qlen") else Nil, fin)
      case _ =>
        val stack = models.map { case (n, _, _, _) => s"'$n', part_$n" }
          .mkString(s"stack(${models.size}, ", ", ", ") AS (model, part)")
        (matched
          .select(keys.map(col) ++ models.map { case (n, part, _, _) =>
            expr(part).as(s"part_$n") }: _*)
          .select(keys.map(col) :+ expr(stack): _*),
          models.collect { case (n, _, _, true) =>
            s"model <> '$n' OR n_matched = qlen" },
          models.map { case (n, _, fin, _) => s"WHEN model = '$n' THEN $fin" }
            .mkString("CASE ", " ", " END"))
    }
    val grouped = parted
      .groupBy((modelKey(models) ++ keys).map(col): _*)
      .agg(sum("part").as("score_sum"), count(lit(1)).as("n_matched"))
    (if (gates.isEmpty) grouped else grouped.filter(expr(gates.mkString(" AND "))))
      .withColumn("score", expr(finalExpr))
  }

  /** [[aggregateModels]] + the batch top-k: row_number per (model,) qid
    * ordered by score, ties broken by id → (qid, <idCol>, score, rank
    * [, model]).
    */
  private[graft] def scoreModels(matched: DataFrame, models: Seq[Model],
                                 k: Int,
                                 idCol: String = "doc_id"): DataFrame = {
    val by = modelKey(models) :+ "qid"
    aggregateModels(matched, models, idCol)
      .withColumn("rank", expr(s"row_number() OVER (PARTITION BY " +
        s"${by.mkString(", ")} ORDER BY score DESC, $idCol)"))
      .filter(col("rank") <= k)
      .select((Seq("qid", idCol, "score", "rank") ++ modelKey(models))
        .map(col): _*)
  }

  private def modelKey(models: Seq[Model]): Seq[String] =
    if (models.size == 1) Nil else Seq("model")

  /** Scoring with stats PROVIDED by an augmented topic file (the
    * TrecRunBaselines dataflow: QueryTermCount precomputes df/cf and
    * the collection header, job 2 never re-aggregates them —
    * `TrecRunBaselines.java:78-136`).
    *
    * @param qAug (qid, term, qtf, df, cf) rows from
    *             `Topics.readAugmented`
    */
  def scoreWithStats(docs: DataFrame, qAug: DataFrame, collLength: Long,
                     nDocs: Long, partExpr: String, finalExpr: String,
                     conjunctive: Boolean, k: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    scoreMatched(
      matchedWithStats(
        withDocLength(TextOps.termFreqs(docs, idCol, textCol), idCol),
        qAug, collLength, nDocs),
      partExpr, finalExpr, conjunctive, k, idCol)

  /** [[scoreFor]] bound to the testdata corpus + [[querySet]]. */
  def score(spark: SparkSession, sfDir: String, partExpr: String,
            finalExpr: String, conjunctive: Boolean, k: Int): DataFrame =
    scoreFor(Tables(spark, sfDir, "documents"), queryFrame(spark), partExpr,
      finalExpr, conjunctive, k)

  /** DuckDB oracle for the same pipeline; `partExpr`/`finalExpr` are the
    * very strings given to `expr(...)` above.
    */
  def duckScore(partExpr: String, finalExpr: String, conjunctive: Boolean,
                k: Int): String =
    duckScoreCtes(partExpr, finalExpr, conjunctive) +
      s"\nSELECT qid, doc_id, score, rank FROM ranked WHERE rank <= $k"

  /** The WITH-chain through `ranked` (qid, doc_id, score, rank), for
    * oracles that post-process retrieval output (eval, feedback).
    */
  def duckScoreCtes(partExpr: String, finalExpr: String,
                    conjunctive: Boolean,
                    qValues: String = duckQueryValues,
                    weighted: Boolean = false): String = {
    val gate = if (conjunctive) "WHERE n_matched = qlen" else ""
    val wCol = if (weighted) ", q.w" else ""
    s"""WITH tokens AS (${TextOps.duckTokens}),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
       |cs AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens FROM dl),
       |q AS (SELECT * FROM $qValues),
       |qlen AS (SELECT qid, count(*) AS qlen FROM q GROUP BY qid),
       |tstats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
       |           FROM tf GROUP BY term),
       |matched AS (
       |  SELECT q.qid, tf.doc_id, tf.tf, dl.dl, tstats.df, tstats.cf,
       |         qlen.qlen, cs.n_docs, cs.n_tokens$wCol
       |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
       |  JOIN tstats USING (term) JOIN qlen USING (qid) CROSS JOIN cs),
       |grouped AS (
       |  SELECT qid, doc_id, dl, qlen,
       |         sum($partExpr) AS score_sum, count(*) AS n_matched
       |  FROM matched GROUP BY qid, doc_id, dl, qlen),
       |scored AS (
       |  SELECT qid, doc_id, $finalExpr AS score FROM grouped $gate),
       |ranked AS (
       |  SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)""".stripMargin
  }
}
