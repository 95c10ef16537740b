package graft.queries

import graft.Tables
import graft.ir.{CorpusStats, Feedback, Retrieval}
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Information-retrieval operator coverage (SURVEY.md §2) over the
  * synthetic `documents` corpus.
  *
  * Naming: ir01.. mirror the reference jobs — tokenization (P3),
  * word count (A1), term/collection stats (A2/A3, QueryTermCount /
  * ClueWebCollectionStats), co-occurrence + EMIM/NPMI (J6/A6,
  * TrecMutualInfo), the four scoring models with top-k (J1/T1,
  * TrecRun / TrecRunBaselines), parameter sweep, TREC eval (J5,
  * Eval.java), and RM1/RM3 feedback (GenerateFeedbackQueriesHBase).
  */
object IrQueries {


  import Retrieval._

  /** ONE copy of the ir28 (fb_terms, λ) grid (review r14; the ir26
    * model list is `Retrieval.baselineModels`): each used to appear
    * verbatim in both the Spark builder and its DuckDB oracle — editing
    * one copy would silently test different configurations. λ is
    * carried as an E-NOTATION STRING: interpolated into the oracle it
    * stays DOUBLE (a bare `0.7` literal is DECIMAL in DuckDB, so its
    * `(1 - 0.7)` was exact-decimal 0.3 while Spark computed the IEEE
    * double 0.30000000000000004 — a 1-ulp divergence under the 6-dp
    * round), and `.toDouble` gives Spark the identical IEEE value.
    */
  private val rm3Grid: Seq[(Int, String)] =
    Seq((5, "3e-1"), (5, "7e-1"), (10, "3e-1"), (10, "7e-1"))

  private def docsT(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private def toks(s: SparkSession, dir: String): DataFrame =
    TextOps.tokens(docsT(s, dir))

  // Shared pair-statistics builder for EMIM/NPMI: (w1, w2, n11,
  // df1, df2, n_docs) over distinct per-doc terms. The vocabulary df
  // table is broadcast; for web-scale vocabularies it would flip to a
  // shuffled join automatically (AQE size check).
  private def pairStats(s: SparkSession, dir: String): DataFrame = {
    val dt = toks(s, dir).distinct()
    val pairs = CorpusStats.pairCounts(dt)
    val dft = dt.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = dt.agg(countDistinct(col("doc_id")).as("n_docs"))
    pairs
      .join(broadcast(dft.select(col("term").as("w1"), col("df").as("df1"))), Seq("w1"))
      .join(broadcast(dft.select(col("term").as("w2"), col("df").as("df2"))), Seq("w2"))
      .crossJoin(broadcast(nd))
  }

  private val duckPairCtes: String =
    s"""WITH tokens AS (${TextOps.duckTokens}),
       |dt AS (SELECT DISTINCT doc_id, term FROM tokens),
       |pairs AS (SELECT a.term AS w1, b.term AS w2, count(*) AS n11
       |          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
       |          GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
       |ps AS (SELECT w1, w2, n11, d1.df AS df1, d2.df AS df2, nd.n_docs
       |       FROM pairs JOIN dft d1 ON w1 = d1.term
       |       JOIN dft d2 ON w2 = d2.term CROSS JOIN nd)""".stripMargin

  // EMIM with the reference's +0.5 / +0.25 smoothing over marginals /
  // joint cells (`TrecMutualInfo.java:308-345`), log base 2.
  //
  // CROSS-ENGINE RULE: fractional literals are written in e-notation
  // (2.5e-1, not 0.25). Spark parses bare decimal-point literals as
  // DECIMAL and its decimal division truncates scale (errors ~1e-6!),
  // while DuckDB promotes to DOUBLE; e-notation is DOUBLE in both.
  private val p11 = "((n11 + 2.5e-1) / (n_docs + 1e0))"
  private val px = "((df1 + 5e-1) / (n_docs + 1e0))"
  private val py = "((df2 + 5e-1) / (n_docs + 1e0))"
  private val p10 = "((df1 - n11 + 2.5e-1) / (n_docs + 1e0))"
  private val p01 = "((df2 - n11 + 2.5e-1) / (n_docs + 1e0))"
  private val p00 = "((n_docs - df1 - df2 + n11 + 2.5e-1) / (n_docs + 1e0))"
  private val emimExpr =
    s"round($p11 * log2($p11 / ($px * $py)) + $p10 * log2($p10 / ($px * (1 - $py))) " +
      s"+ $p01 * log2($p01 / ((1 - $px) * $py)) " +
      s"+ $p00 * log2($p00 / ((1 - $px) * (1 - $py))), 6)"

  // NPMI — the *intended* formula (pmi / -log2 p11). The reference's
  // TrecMutualInfo2 has two bugs (uninitialized N and a double /log2,
  // `TrecMutualInfo2.java:182,303-326`); we implement the documented fix
  // per SURVEY §4 "quirk parity decisions".
  private val npmiExpr = s"round(log2($p11 / ($px * $py)) / (-log2($p11)), 6)"

  // RM1/RM3 feedback oracle (GenerateFeedbackQueriesHBase; the Spark
  // side is graft.ir.Feedback). fbDocs = fbTerms = 10, RM3 λ = 0.5;
  // term cleaner = P11 (len ≥ 3, no digits,
  // `GenerateFeedbackQueriesHBase.java:366-377`).
  private def duckRm1Ctes: String =
    duckScoreCtes(lmdirPart, lmdirFinal, conjunctive = false) +
      s""",
         |fb AS (SELECT qid, doc_id, score FROM ranked WHERE rank <= 10),
         |fbterm AS (SELECT fb.qid, tf.term, sum(${Feedback.rm1Contrib}) AS w
         |           FROM fb JOIN tf USING (doc_id) JOIN dl USING (doc_id)
         |           WHERE length(term) >= 3 AND NOT regexp_matches(term, '[0-9]')
         |           GROUP BY fb.qid, tf.term),
         |tot AS (SELECT qid, sum(w) AS tot FROM fbterm GROUP BY qid),
         |normed AS (SELECT qid, term, w, round(w / tot, 6) AS wn,
         |             row_number() OVER (PARTITION BY qid
         |               ORDER BY round(w / tot, 9) DESC, term) AS frank
         |           FROM fbterm JOIN tot USING (qid))""".stripMargin

  // NOTE (measured, sf0.1): do NOT persist() Feedback.rm1 or other shared
  // subtrees here — Catalyst's ReusedExchange already dedupes the
  // identical exchanges across self-joins/grid branches, and eager
  // columnar caching both costs materialization and blocks AQE
  // (benchmarked +10% total when these plans were persisted).

  val all: Seq[Decl] = Seq(

    // P3 + UDTF-style multi-emit: tokenization with positions over the
    // raw split array (positions count empty edge tokens, rows don't).
    Decl(
      "ir01_tokenize_pos",
      (s, dir) =>
        docsT(s, dir).filter(col("doc_id") < 100)
          .select(col("doc_id"),
            posexplode(TextOps.tokensCol(col("text"))).as(Seq("pos", "term")))
          .filter(col("term") =!= "")
          .select("doc_id", "pos", "term"),
      Some("""SELECT doc_id, i - 1 AS pos, t AS term FROM (
             |  SELECT doc_id,
             |    unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS t,
             |    generate_subscripts(string_split_regex(lower(text), '[^0-9a-z]+'), 1) AS i
             |  FROM documents WHERE doc_id < 100) u WHERE t <> ''""".stripMargin),
      survey = Seq("P3")),

    // A1: word count (WordCount.java, TrecWordCount.java).
    Decl(
      "ir02_wordcount",
      (s, dir) => toks(s, dir).groupBy("term").agg(count(lit(1)).as("n")),
      Some(s"SELECT term, count(*) AS n FROM (${TextOps.duckTokens}) t GROUP BY term"),
      survey = Seq("A1", "P3")),

    // A2: per-term df + cf in one pass (ClueWebCollectionStats.java:104-131).
    Decl(
      "ir03_term_stats",
      (s, dir) =>
        CorpusStats.termStats(TextOps.termFreqs(docsT(s, dir))),
      Some(s"""SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
              |FROM (${TextOps.duckTermFreqs}) tf GROUP BY term""".stripMargin),
      survey = Seq("A2")),

    // A3: global collection statistics (#docs/#terms/#tokens header,
    // ClueWebCollectionStats.java:157-174).
    Decl(
      "ir04_collection_stats",
      (s, dir) => CorpusStats.collectionStats(TextOps.termFreqs(docsT(s, dir))),
      Some(s"""SELECT count(DISTINCT doc_id) AS n_docs,
              |  count(DISTINCT term) AS n_terms, count(*) AS n_tokens
              |FROM (${TextOps.duckTokens}) t""".stripMargin),
      survey = Seq("A3")),

    // A4: per-doc term-frequency bag (FeatureVector.addTerm).
    Decl(
      "ir05_doc_tf",
      (s, dir) => TextOps.termFreqs(docsT(s, dir)).filter(col("doc_id") < 50),
      Some(s"SELECT * FROM (${TextOps.duckTermFreqs}) tf WHERE doc_id < 50"),
      survey = Seq("A4")),

    // P9: stopword anti-filter (TrecQueryStats.java:85-96).
    Decl(
      "ir06_stopword_filter",
      (s, dir) =>
        toks(s, dir)
          .filter(!col("term").isin(TextOps.stopwords: _*))
          .groupBy("term").agg(count(lit(1)).as("n")),
      Some(s"""SELECT term, count(*) AS n FROM (${TextOps.duckTokens}) t
              |WHERE term NOT IN (${TextOps.stopwords.map("'" + _ + "'").mkString(",")})
              |GROUP BY term""".stripMargin),
      survey = Seq("P9")),

    // P10: frequency-threshold pruning (MIN_OCCUR, TrecWordCount.java:106,117).
    Decl(
      "ir07_min_occur",
      (s, dir) =>
        TextOps.termFreqs(docsT(s, dir))
          .groupBy("term").agg(sum("tf").as("cf"))
          .filter(col("cf") > 2),
      Some(s"""SELECT term, CAST(sum(tf) AS BIGINT) AS cf
              |FROM (${TextOps.duckTermFreqs}) tf GROUP BY term
              |HAVING CAST(sum(tf) AS BIGINT) > 2""".stripMargin),
      survey = Seq("P10")),

    // A9: distinct-terms-per-doc (document-frequency semantics,
    // TrecWordCount.java:66-71).
    Decl(
      "ir08_distinct_terms",
      (s, dir) =>
        toks(s, dir).distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_distinct")),
      Some(s"""SELECT doc_id, count(*) AS n_distinct
              |FROM (SELECT DISTINCT doc_id, term FROM (${TextOps.duckTokens}) t) dt
              |GROUP BY doc_id""".stripMargin),
      survey = Seq("A9")),

    // J6/A6: within-document co-occurrence pairs (TrecMutualInfo map).
    Decl(
      "ir09_cooccur",
      (s, dir) => pairStats(s, dir).select("w1", "w2", "n11"),
      Some(s"$duckPairCtes\nSELECT w1, w2, n11 FROM ps"),
      survey = Seq("J6", "A6")),

    // §2.7 EMIM (TrecMutualInfo.java:308-345).
    Decl(
      "ir10_emim",
      (s, dir) =>
        pairStats(s, dir).select(col("w1"), col("w2"), expr(emimExpr).as("emim")),
      Some(s"$duckPairCtes\nSELECT w1, w2, $emimExpr AS emim FROM ps"),
      survey = Seq("EMIM")),

    // §2.7 NPMI (documented fix of TrecMutualInfo2 quirks).
    Decl(
      "ir11_npmi",
      (s, dir) =>
        pairStats(s, dir).select(col("w1"), col("w2"), expr(npmiExpr).as("npmi")),
      Some(s"$duckPairCtes\nSELECT w1, w2, $npmiExpr AS npmi FROM ps"),
      survey = Seq("NPMI")),

    // J1 + T1 + LMno: conjunctive language model, no smoothing
    // (TrecRun.java:108-116): the flagship sequential-scan query.
    Decl(
      "ir12_score_lmno",
      (s, dir) => score(s, dir, lmnoPart, lmnoFinal, conjunctive = true, 10),
      Some(duckScore(lmnoPart, lmnoFinal, conjunctive = true, 10)),
      survey = Seq("J1", "T1", "LMno")),

    // LM Jelinek-Mercer λ=0.5 (TrecRunBaselines.java:168-180).
    Decl(
      "ir13_score_lmjm",
      (s, dir) => score(s, dir, lmjmPart(), lmjmFinal, conjunctive = false, 10),
      Some(duckScore(lmjmPart(), lmjmFinal, conjunctive = false, 10)),
      survey = Seq("LMs")),

    // LM Dirichlet µ=2500 (TrecRunBaselines.java:210-220).
    Decl(
      "ir14_score_lmdir",
      (s, dir) => score(s, dir, lmdirPart, lmdirFinal, conjunctive = false, 10),
      Some(duckScore(lmdirPart, lmdirFinal, conjunctive = false, 10)),
      survey = Seq("LMdi")),

    // BM25 k1=1.2 b=0.75 (TrecRunBaselines.java:190-201).
    Decl(
      "ir15_score_bm25",
      (s, dir) => score(s, dir, bm25Part, bm25Final, conjunctive = false, 10),
      Some(duckScore(bm25Part, bm25Final, conjunctive = false, 10)),
      survey = Seq("BM25")),

    // §2.7 parameter sweep: λ grid × JM scoring, top-3 per (qid, λ)
    // (TrecRunBaselines.java:260-263 sweeps λ ∈ 0.1..0.9 step 0.2).
    Decl(
      "ir16_sweep_lmjm",
      (s, dir) => {
        val grid = s.range(0, 5).select(
          (col("id").cast("double") * 0.2 + 0.1).as("lam"))
        matchedTerms(s, dir)
          .crossJoin(broadcast(grid))
          .withColumn("part", expr(lmjmPart("lam")))
          .groupBy("qid", "doc_id", "dl", "lam")
          .agg(sum("part").as("score_sum"))
          .withColumn("score", expr(lmjmFinal))
          .withColumn("rank",
            expr("row_number() OVER (PARTITION BY qid, lam ORDER BY score DESC, doc_id)"))
          .filter(col("rank") <= 3)
          .select("qid", "lam", "doc_id", "score", "rank")
      },
      Some(s"""WITH tokens AS (${TextOps.duckTokens}),
              |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
              |dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
              |cs AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens FROM dl),
              |q AS (SELECT * FROM $duckQueryValues),
              |tstats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
              |           FROM tf GROUP BY term),
              |grid AS (SELECT unnest([0,1,2,3,4]) * CAST(0.2 AS DOUBLE)
              |         + CAST(0.1 AS DOUBLE) AS lam),
              |grouped AS (
              |  SELECT q.qid, tf.doc_id, dl.dl, grid.lam,
              |         sum(${lmjmPart("lam")}) AS score_sum
              |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
              |  JOIN tstats USING (term) CROSS JOIN cs CROSS JOIN grid
              |  GROUP BY q.qid, tf.doc_id, dl.dl, grid.lam),
              |ranked AS (
              |  SELECT qid, lam, doc_id, $lmjmFinal AS score,
              |         row_number() OVER (PARTITION BY qid, lam
              |           ORDER BY $lmjmFinal DESC, doc_id) AS rank
              |  FROM grouped)
              |SELECT qid, lam, doc_id, score, rank FROM ranked WHERE rank <= 3""".stripMargin),
      survey = Seq("GRID", "LMs")),

    // J5 + Eval.java: P@5 and AP@10 against deterministic synthetic
    // qrels (rel ⇔ doc_id ≡ 0 mod (qid − 40)); MAP divides by the
    // qrels relevant count, mirroring Eval.map (Eval.java:159-170).
    Decl(
      "ir17_eval",
      (s, dir) => {
        val judged = score(s, dir, lmdirPart, lmdirFinal, conjunctive = false, 10)
          .withColumn("rel",
            expr("CASE WHEN doc_id % (CAST(qid AS INT) - 40) = 0 THEN 1 ELSE 0 END"))
          .withColumn("cum_rel",
            expr("sum(rel) OVER (PARTITION BY qid ORDER BY rank)"))
        // qrels qids come from the QUERY SET (as in the oracle's
        // `SELECT DISTINCT qid FROM q`) — not from a second retrieval
        // run, which would recompute the whole scoring pipeline.
        import s.implicits._
        val qids = querySet.map(_._1).distinct.toDF("qid")
        val nrel = docsT(s, dir).select("doc_id").crossJoin(broadcast(qids))
          .filter(expr("doc_id % (CAST(qid AS INT) - 40) = 0"))
          .groupBy("qid").agg(count(lit(1)).as("n_rel"))
        judged.groupBy("qid")
          .agg(
            expr("sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END)").as("rel5"),
            expr("sum(CASE WHEN rel = 1 THEN cum_rel / CAST(rank AS DOUBLE) ELSE 0 END)")
              .as("ap_num"))
          .join(nrel, Seq("qid"))
          .select(col("qid"), expr("round(rel5 / 5e0, 6)").as("p5"),
            expr("round(ap_num / n_rel, 6)").as("ap"))
      },
      Some(duckScoreCtes(lmdirPart, lmdirFinal, conjunctive = false) +
        """,
          |judged AS (
          |  SELECT qid, doc_id, rank,
          |    CASE WHEN doc_id % (CAST(qid AS INT) - 40) = 0 THEN 1 ELSE 0 END AS rel
          |  FROM ranked WHERE rank <= 10),
          |cums AS (SELECT *, sum(rel) OVER (PARTITION BY qid ORDER BY rank) AS cum_rel
          |         FROM judged),
          |nrel AS (SELECT qs.qid, count(*) AS n_rel
          |         FROM documents CROSS JOIN (SELECT DISTINCT qid FROM q) qs
          |         WHERE doc_id % (CAST(qs.qid AS INT) - 40) = 0 GROUP BY qs.qid),
          |m AS (SELECT qid,
          |        sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END) AS rel5,
          |        sum(CASE WHEN rel = 1 THEN cum_rel / CAST(rank AS DOUBLE) ELSE 0 END) AS ap_num
          |      FROM cums GROUP BY qid)
          |SELECT qid, round(rel5 / 5e0, 6) AS p5, round(ap_num / n_rel, 6) AS ap
          |FROM m JOIN nrel USING (qid)""".stripMargin),
      survey = Seq("J5", "EVAL")),

    // RM1 relevance model over the top-10 Dirichlet feedback docs
    // (GenerateFeedbackQueriesHBase.java:438-488) with the P11 term
    // cleaner; weights normalized, top-10 terms kept.
    Decl(
      "ir18_rm1",
      (s, dir) =>
        Feedback.rm1(docsT(s, dir), queryFrame(s), 10)
          .filter(col("frank") <= 10).select("qid", "term", "wn", "frank"),
      Some(duckRm1Ctes +
        "\nSELECT qid, term, wn, frank FROM normed WHERE frank <= 10"),
      survey = Seq("RM1", "P11")),

    // The TrecRunBaselines multi-model run (§3.2): all four models in
    // one output, keyed by model — the reference's `qid:model` keying
    // as a typed column.
    Decl(
      "ir26_baselines_grid",
      // ONE pass over the matched frame for all four models: the
      // stack path of Retrieval.scoreModels (conjunctive gate on LMno
      // only)
      (s, dir) => scoreModels(matchedTerms(s, dir), baselineModels, 5),
      Some(baselineModels
        .map { case (name, part, fin, conj) =>
          s"SELECT *, '$name' AS model FROM (\n${duckScore(part, fin, conj, 5)}\n) t_$name"
        }
        .mkString("\nUNION ALL\n")),
      survey = Seq("BASELINES-GRID")),

    // Weighted-topic retrieval (FIXTURES §4; RunQueryHBase weighted
    // reader :138-161, feedback-query consumption loop): per-term
    // weights multiply the Dirichlet contribution.
    Decl(
      "ir24_score_weighted",
      (s, dir) => {
        import s.implicits._
        val q = weightedQuerySet
          .flatMap { case (qid, ts) => ts.map { case (t, w) => (qid, t, w) } }
          .toDF("qid", "term", "w")
        scoreFor(Tables(s, dir, "documents"), q,
          s"w * ($lmdirPart)", lmdirFinal, conjunctive = false, 10)
      },
      Some(duckScoreCtes(s"w * ($lmdirPart)", lmdirFinal, conjunctive = false,
        qValues = duckWeightedQueryValues, weighted = true) +
        "\nSELECT qid, doc_id, score, rank FROM ranked WHERE rank <= 10"),
      survey = Seq("WEIGHTED-Q")),

    // µ sweep over Dirichlet (RunQueryHBase.java:46-47 sweeps µ from
    // 100..2500), top-3 per (qid, µ).
    Decl(
      "ir25_sweep_mu",
      (s, dir) => {
        val grid = s.range(0, 4).select(
          expr("CAST(element_at(array(100, 500, 1000, 2500), CAST(id AS INT) + 1) AS DOUBLE)")
            .as("mu"))
        matchedTerms(s, dir)
          .crossJoin(broadcast(grid))
          .withColumn("part", expr("ln(tf * (n_tokens / cf) + mu) - ln(dl + mu)"))
          .groupBy("qid", "doc_id", "mu")
          .agg(sum("part").as("score_sum"))
          .withColumn("score", expr("round(score_sum, 6)"))
          .withColumn("rank",
            expr("row_number() OVER (PARTITION BY qid, mu ORDER BY score DESC, doc_id)"))
          .filter(col("rank") <= 3)
          .select("qid", "mu", "doc_id", "score", "rank")
      },
      Some(s"""WITH tokens AS (${TextOps.duckTokens}),
              |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
              |dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
              |cs AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens FROM dl),
              |q AS (SELECT * FROM $duckQueryValues),
              |tstats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
              |           FROM tf GROUP BY term),
              |grid AS (SELECT CAST(unnest([100, 500, 1000, 2500]) AS DOUBLE) AS mu),
              |grouped AS (
              |  SELECT q.qid, tf.doc_id, grid.mu,
              |         sum(ln(tf * (n_tokens / cf) + mu) - ln(dl + mu)) AS score_sum
              |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
              |  JOIN tstats USING (term) CROSS JOIN cs CROSS JOIN grid
              |  GROUP BY q.qid, tf.doc_id, grid.mu),
              |ranked AS (
              |  SELECT qid, mu, doc_id, round(score_sum, 6) AS score,
              |         row_number() OVER (PARTITION BY qid, mu
              |           ORDER BY round(score_sum, 6) DESC, doc_id) AS rank
              |  FROM grouped)
              |SELECT qid, mu, doc_id, score, rank FROM ranked WHERE rank <= 3""".stripMargin),
      survey = Seq("GRID", "LMdi")),

    // Two-stage smoothing (RunQueryHBase.java:212-224).
    Decl(
      "ir22_score_twostage",
      (s, dir) => score(s, dir, twoStagePart, twoStageFinal, conjunctive = false, 10),
      Some(duckScore(twoStagePart, twoStageFinal, conjunctive = false, 10)),
      survey = Seq("TWOSTAGE")),

    // Cross-entropy scoring (RunQueryHBase.java:226-245).
    Decl(
      "ir23_score_xent",
      (s, dir) => score(s, dir, xentPart, xentFinal, conjunctive = false, 10),
      Some(duckScore(xentPart, xentFinal, conjunctive = false, 10)),
      survey = Seq("XENT")),

    // A7: query-term × doc-term co-occurrence stats — per pair, count of
    // docs and Σ min(tf_q, tf_d), stopwords dropped
    // (TrecQueryStats.java:128-186).
    Decl(
      "ir21_querystats",
      (s, dir) => {
        import s.implicits._
        CorpusStats.queryCooccurrence(TextOps.termFreqs(docsT(s, dir)),
          querySet.flatMap(_._2).distinct.toDF("term"), TextOps.stopwords)
      },
      Some {
        val stop = TextOps.stopwords.map("'" + _ + "'").mkString(",")
        s"""WITH tf AS (${TextOps.duckTermFreqs}),
           |qterms AS (SELECT DISTINCT term FROM $duckQueryValues),
           |tq AS (SELECT doc_id, term AS qterm, tf AS tfq
           |       FROM tf JOIN qterms USING (term)),
           |td AS (SELECT doc_id, term AS dterm, tf AS tfd FROM tf
           |       WHERE term NOT IN ($stop))
           |SELECT qterm, dterm, count(*) AS n_docs,
           |  CAST(sum(least(tfq, tfd)) AS BIGINT) AS sum_minf
           |FROM tq JOIN td USING (doc_id) GROUP BY qterm, dterm""".stripMargin
      },
      survey = Seq("A7", "P9")),

    // RM3 sweep (GenerateFeedbackQueriesHBase.java:56-59 sweeps
    // fbTerms and λ): RM1 weights are computed ONCE; each grid point
    // only re-clips and re-interpolates (the reference recomputes the
    // whole model per cell).
    Decl(
      "ir28_rm3_sweep",
      (s, dir) => {
        import s.implicits._
        // ONE grid-expanded plan, not one branch per grid cell: the RM1
        // model cross-joins the (fb_terms, λ) grid and every cell's clip
        // is a filter over the same expanded table, so the expensive
        // retrieval+feedback subtree appears once; per-cell clip
        // normalization is a window over (qid, fb_terms, λ), not an
        // agg + join-back (which would clone the expanded table). Four
        // separate branches re-ran the subtree up to 8×.
        val rm1 = Feedback.rm1(docsT(s, dir), queryFrame(s), 10)
          .select("qid", "term", "w", "frank")
        val q = queryFrame(s)
        val qlen = qlenOf(q)
        val grid = rm3Grid.map { case (ft, l) => (ft, l.toDouble) }
          .toDF("fb_terms", "lam")
        val qq = q.join(qlen, Seq("qid")).crossJoin(broadcast(grid))
        val clipn = rm1.crossJoin(broadcast(grid))
          .filter(col("frank") <= col("fb_terms"))
          .select(col("qid"), col("fb_terms"), col("lam"), col("term"),
            expr("w / sum(w) OVER (PARTITION BY qid, fb_terms, lam)")
              .as("wc"))
        qq.join(clipn, Seq("qid", "fb_terms", "lam", "term"), "full_outer")
          .select(col("qid"), col("fb_terms"), col("lam"), col("term"),
            expr("round(coalesce(lam * (1e0 / qlen), 0) + coalesce((1 - lam) * wc, 0), 6)")
              .as("w3"))
      },
      Some {
        val branches = rm3Grid
          .map { case (ft, lam) =>
            s"""SELECT qid, $ft AS fb_terms, CAST($lam AS DOUBLE) AS lam, term,
               |  round(coalesce($lam * (1e0 / qlen), 0) + coalesce((1 - $lam) * wc, 0), 6) AS w3
               |FROM qq FULL JOIN (
               |  SELECT qid, term, w / cliptot AS wc
               |  FROM (SELECT qid, term, w FROM normed WHERE frank <= $ft) c
               |  JOIN (SELECT qid, sum(w) AS cliptot FROM normed
               |        WHERE frank <= $ft GROUP BY qid) ct USING (qid)
               |) clipn USING (qid, term)""".stripMargin
          }
        duckRm1Ctes +
          ",\nqq AS (SELECT q.qid, q.term, qlen.qlen FROM q JOIN qlen USING (qid))\n" +
          branches.mkString("\nUNION ALL\n")
      },
      survey = Seq("RM3", "GRID")),

    // Vector-space cosine retrieval (tf·idf weights, full-document norm
    // — the pre-LM scoring family the reference era benchmarked
    // against; completes the §2.7 model coverage). The doc-norm pass
    // touches every (doc, term) pair once — at scale it is precomputed
    // at index time next to the doc length; here it shares the tf
    // aggregation with the matched-pair pass via exchange reuse.
    Decl(
      "ir29_vsm_cosine",
      (s, dir) => {
        val tf = TextOps.termFreqs(docsT(s, dir))
        val nd = docsT(s, dir).agg(count(lit(1)).as("n_docs"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        // doc norm as a WINDOW on the weighted frame, carried through
        // the dot-product groupBy as a key — the former dnorm branch
        // duplicated the whole tf⋈df subtree (the join-back defect
        // fixed across the RM family this round). Wall-NEUTRAL at
        // sf0.1 (2.0 s both shapes, r5 A/B: the duplicated branch is
        // agg-cheap here) but one fewer full corpus pass, which is
        // what matters at 100 TB.
        val w = tf.join(dfT, Seq("term")).crossJoin(broadcast(nd))
          .withColumn("wdt", expr("tf * ln(n_docs / df)"))
          .withColumn("dn",
            expr("sqrt(sum(wdt * wdt) OVER (PARTITION BY doc_id))"))
        val q = queryFrame(s)
        val qw = q.join(dfT, Seq("term")).crossJoin(broadcast(nd))
          .withColumn("wqt", expr("ln(n_docs / df)"))
        val qnorm = qw.groupBy("qid")
          .agg(expr("sqrt(sum(wqt * wqt))").as("qn"))
        w.join(broadcast(qw.select("qid", "term", "wqt")), Seq("term"))
          .groupBy("qid", "doc_id", "dn").agg(sum(expr("wdt * wqt")).as("dotp"))
          .join(broadcast(qnorm), Seq("qid"))
          .withColumn("score", expr("round(dotp / (dn * qn), 6)"))
          .withColumn("rank", expr(
            "row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)"))
          .filter(col("rank") <= 10)
          .select("qid", "doc_id", "score", "rank")
      },
      Some(s"""WITH tf AS (${TextOps.duckTermFreqs}),
              |nd AS (SELECT count(*) AS n_docs FROM documents),
              |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              |w AS (SELECT doc_id, term, tf * ln(n_docs / df) AS wdt
              |      FROM tf JOIN dft USING (term) CROSS JOIN nd),
              |dnorm AS (SELECT doc_id, sqrt(sum(wdt * wdt)) AS dn
              |          FROM w GROUP BY doc_id),
              |q AS (SELECT * FROM $duckQueryValues),
              |qw AS (SELECT qid, term, ln(n_docs / df) AS wqt
              |       FROM q JOIN dft USING (term) CROSS JOIN nd),
              |qnorm AS (SELECT qid, sqrt(sum(wqt * wqt)) AS qn
              |          FROM qw GROUP BY qid),
              |dots AS (SELECT qid, doc_id, sum(wdt * wqt) AS dotp
              |         FROM w JOIN qw USING (term) GROUP BY qid, doc_id),
              |scored AS (SELECT qid, doc_id,
              |             round(dotp / (dn * qn), 6) AS score
              |           FROM dots JOIN dnorm USING (doc_id)
              |           JOIN qnorm USING (qid))
              |SELECT qid, doc_id, score, rank FROM (
              |  SELECT qid, doc_id, score, row_number() OVER (
              |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
              |  FROM scored) t WHERE rank <= 10""".stripMargin),
      survey = Seq("VSM-COSINE")),

    // Rocchio feedback — the vector-space cousin of RM3 (completes the
    // feedback family): q' = α·w_q + β·mean(top-10 docs' tf·idf
    // vectors), P11-cleaned, top-10 expansion terms per query.
    // α=1, β=0.75 (the classic defaults).
    Decl(
      "ir30_rocchio",
      (s, dir) => {
        // Round-3 driver regression (2.6→11.9 s) adjudicated by A/B
        // (BENCH_NOTES §1, 3 rounds each, sf0.1): ir30's consumers of tf are
        // each SPECIALIZED by Catalyst — the query-term semi-join and
        // the length>=3 feedback cleaner push below the shared
        // aggregation on some branches only — so the corpus tokenizes
        // 5× (user-cpu ~32 core-s). But the recomputes run in PARALLEL
        // stages: wall 2.4–3.0 s, vs 3.7–5.2 s lazy-persist and
        // 4.1–8.3 s eager-persist (columnar cache build + a
        // materialization barrier cost more than they save at this SF).
        // Recompute-in-parallel is the right local shape; at 100 TB the
        // tf frame comes from the materialized doc-vector index
        // (ir/Index.scala) — persistence as a parquet layout, not an
        // in-query cache. The r3 11.9 s was this recompute plus a
        // measured JIT-herd storm (sys 14 cpu-s in BENCH_DETAILS).
        // The explicit isNotNull makes the UNSPECIALIZED branches' scan
        // filters identical (joins on doc_id push isnotnull into some
        // scans only), so the tf→dl chain dedupes to ReusedExchange —
        // 5 tokenizes instead of 6. Semantically free: doc_id is a
        // never-null key.
        val tf = TextOps.termFreqs(
          docsT(s, dir).filter(col("doc_id").isNotNull))
        val nd = docsT(s, dir).agg(count(lit(1)).as("n_docs"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = tf.join(dfT, Seq("term")).crossJoin(broadcast(nd))
          .withColumn("wdt", expr("tf * ln(n_docs / df)"))
        val q0 = queryFrame(s)
        // Feedback ranking derives from the SAME tf frame as the tf·idf
        // weights (matchedTermsFromTf) — one tokenize subtree in the
        // whole plan; PlanShapeSpec asserts the exchange is reused
        // (round-3 driver bench showed ~3× user-cpu from the doubled
        // subtree when score() rebuilt its own tf).
        val fb = Retrieval.scoreMatched(
            Retrieval.matchedTermsFromTf(tf, q0),
            lmdirPart, lmdirFinal, conjunctive = false, 10)
          .select("qid", "doc_id")
        val centroid = fb.join(w, Seq("doc_id"))
          .filter(expr("length(term) >= 3 AND NOT term RLIKE '[0-9]'"))
          .groupBy("qid", "term")
          .agg(expr("sum(wdt) / 10e0").as("cterm"))
        val qw = q0.join(dfT, Seq("term")).crossJoin(broadcast(nd))
          .select(col("qid"), col("term"),
            expr("ln(n_docs / df)").as("wqt"))
        centroid.join(qw, Seq("qid", "term"), "full_outer")
          .select(col("qid"), col("term"),
            expr("round(coalesce(1e0 * wqt, 0) + coalesce(7.5e-1 * cterm, 0), 6)")
              .as("rocchio"),
            expr("row_number() OVER (PARTITION BY qid ORDER BY" +
              " round(coalesce(1e0 * wqt, 0) + coalesce(7.5e-1 * cterm, 0), 9)" +
              " DESC, term)").as("r"))
          .filter(col("r") <= 10)
      },
      Some(duckScoreCtes(lmdirPart, lmdirFinal, conjunctive = false) +
        s""",
           |nd2 AS (SELECT count(*) AS n_docs FROM documents),
           |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |w AS (SELECT doc_id, term, tf * ln(nd2.n_docs / df) AS wdt
           |      FROM tf JOIN dft USING (term) CROSS JOIN nd2),
           |fb AS (SELECT qid, doc_id FROM ranked WHERE rank <= 10),
           |cent AS (SELECT qid, term, sum(wdt) / 10e0 AS cterm
           |         FROM fb JOIN w USING (doc_id)
           |         WHERE length(term) >= 3
           |           AND NOT regexp_matches(term, '[0-9]')
           |         GROUP BY qid, term),
           |qw AS (SELECT qid, q.term, ln(nd2.n_docs / df) AS wqt
           |       FROM q JOIN dft ON q.term = dft.term CROSS JOIN nd2)
           |SELECT qid, term, rocchio, r FROM (
           |  SELECT qid, term,
           |    round(coalesce(1e0 * wqt, 0) + coalesce(7.5e-1 * cterm, 0), 6)
           |      AS rocchio,
           |    row_number() OVER (PARTITION BY qid ORDER BY
           |      round(coalesce(1e0 * wqt, 0) + coalesce(7.5e-1 * cterm, 0), 9)
           |      DESC, term) AS r
           |  FROM cent FULL JOIN qw USING (qid, term)) t
           |WHERE r <= 10""".stripMargin),
      survey = Seq("ROCCHIO")),

    // RM3 interpolation λ·q + (1−λ)·RM1clip, λ=0.5
    // (FeatureVector.interpolate:173-190, clip:66-84, normalize:86-107).
    Decl(
      "ir19_rm3",
      (s, dir) =>
        Feedback.rm3(Feedback.rm1(docsT(s, dir), queryFrame(s), 10),
            queryFrame(s), 10, 0.5)
          .select(col("qid"), col("term"), round(col("w3"), 6).as("w3")),
      Some(duckRm1Ctes +
        """,
          |clip AS (SELECT qid, term, w FROM normed WHERE frank <= 10),
          |cliptot AS (SELECT qid, sum(w) AS cliptot FROM clip GROUP BY qid),
          |clipn AS (SELECT qid, term, w / cliptot AS wc
          |          FROM clip JOIN cliptot USING (qid)),
          |qq AS (SELECT q.qid, q.term, qlen.qlen FROM q JOIN qlen USING (qid))
          |SELECT qid, term,
          |  round(coalesce(5e-1 * (1e0 / qlen), 0) + coalesce(5e-1 * wc, 0), 6) AS w3
          |FROM qq FULL JOIN clipn USING (qid, term)""".stripMargin),
      survey = Seq("RM3"))
  )
}
