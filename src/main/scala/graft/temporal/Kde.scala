package graft.temporal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Native Gaussian KDE temporal re-scoring (reference
  * `RKernelDensity.java:22-69` + `RunQueryKDEHBase.java:82-113`,
  * which round-trip each query's top-k epochs to an external R
  * process; here it is pure column math per SURVEY §7.1 item 9).
  *
  * kde(e_j) = (1/(k·bw))·Σ_i φ((e_j − e_i)/bw) over the group's
  * epochs; bandwidth is Silverman's rule by default, with the
  * reference's exact `bw="SJ-dpi"` (`RKernelDensity.java:28`)
  * available as the opt-in `bw = "sj"` — the published two-stage
  * Sheather-Jones (1991) direct plug-in, expressible in closed column
  * math because the pilot functionals are pairwise sums over the
  * bounded top-k sample; rescore = α·ln(kde) + (1−α)·score.
  *
  * Scale: the kernel matrix is k×k per query (k = top-k, bounded),
  * partitioned by qid — independent of corpus size.
  */
object Kde {

  val kdeTerm = "exp(-5e-1 * pow((ep - ep2) / bw, 2))"
  val kdeFinal = "ksum / (k * bw * sqrt(2 * pi()))"
  // assert_true guards the weighted path: retrieval scores used as
  // kernel weights must EACH be positive (log-probability scorers emit
  // negative scores). The guard is on the per-query MINIMUM, not the
  // weight sum (review r14): mixed-sign scores can keep wtot > 0 while
  // negative kernel terms drive some docs' ksum <= 0 — ln(kde) then
  // NULLs and those docs silently rank last, exactly the failure the
  // guard exists to prevent.
  val kdeFinalWeighted =
    "CASE WHEN assert_true(wmin > 0, 'weighted KDE requires positive " +
      "scores as weights (use exp(log-score) or the unweighted variant)') " +
      "IS NULL THEN ksum / (wtot * bw * sqrt(2 * pi())) END"
  val bwExpr = "greatest(1.06e0 * sd * pow(k, -2e-1), 1e0)"

  /** Σ_ij poly(u)·φ(u), u = (x−y)/g, over ALL ordered pairs of the
    * collected epoch array — including the i=j diagonal, matching
    * R's binned-pairwise convention (and tools/gen_kde_golden.py,
    * which regenerates the committed golden). k ≤ top-k, so the k²
    * evaluation is bounded per group.
    */
  private def pairSum(g: String, poly: String => String): String = {
    val u = s"((x - y) / $g)"
    s"aggregate(eps, CAST(0 AS DOUBLE), (s1, x) -> s1 + " +
      s"aggregate(eps, CAST(0 AS DOUBLE), (s2, y) -> s2 + " +
      s"(${poly(u)}) * exp(-5e-1 * pow($u, 2)) / sqrt(2 * pi())))"
  }

  /** Evaluate a per-group-constant heavy expression on ONE row of the
    * qid group and window-propagate it (review r18): psi6/psi4 are k²
    * pairwise sums whose value is identical on every row of the
    * group — the plain withColumn form re-evaluated them per ROW,
    * k³ interpreted lambda/exp evaluations per query (HOF lambdas are
    * CodegenFallback). CaseWhen evaluates branches lazily, so the
    * pair sum runs exactly once per group; same value on every row.
    */
  private def oncePerGroup(e: String): String =
    s"max(CASE WHEN _kde_pos = 1 THEN $e END) OVER (PARTITION BY qid)"

  /** Two-stage Sheather-Jones direct-plug-in bandwidth (Wand & Jones
    * 1995 notation; the algorithm behind R's `bw.SJ(method="dpi")`,
    * which the reference invokes as `bw="SJ-dpi"`,
    * `RKernelDensity.java:28`):
    *
    *   ψ̂8 = 105/(32√π σ⁹),  σ = min(sd, IQR/1.349)
    *   g6 = (30/√(2π) / (ψ̂8 n))^(1/9)
    *   ψ̂6 = Σ_ij φ6(u)/(n(n−1) g6⁷)      φ6(u)=(u⁶−15u⁴+45u²−15)φ(u)
    *   g4 = (−6/√(2π) / (ψ̂6 n))^(1/7)    (ψ̂6 < 0 for any density)
    *   ψ̂4 = Σ_ij φ4(u)/(n(n−1) g4⁵)      φ4(u)=(u⁴−6u²+3)φ(u)
    *   h  = (1/(2√π) / (ψ̂4 n))^(1/5)
    *
    * Applied to `eps` (the collected per-group epoch array) + the
    * window-derived `sd`/`iqr`/`k` columns; KdeGoldenSpec pins the
    * result against R's values on the committed fixture to 1e-3
    * relative. Degenerate groups (σ = 0, a sign-flipped pilot, k < 2)
    * RAISE loudly (r18; R's bw.SJ aborts on the same samples) — use
    * the Silverman default for samples R would also reject.
    */
  private val sjSteps: Seq[(String, String)] = Seq(
    "sigma" -> "least(sd, iqr / 1.349e0)",
    // named guard at the FIRST degenerate step (review r19): sigma = 0
    // (>= 50% tied epochs) hits pow(sigma, 9) = 0 in g6's divisor and
    // ANSI raises a generic DIVIDE_BY_ZERO there — loud but unnamed,
    // and the named bw guard below is never reached. sigma IS NULL
    // covers k < 2 (stddev_samp of one row is NULL).
    "sigma" -> ("CASE WHEN sigma IS NULL OR isnan(sigma) OR sigma <= 0" +
      " THEN CAST(raise_error(" +
      "concat('SJ bandwidth degenerate for qid ', CAST(qid AS STRING)," +
      " ': sigma = 0 or undefined (>= 50% tied epochs, or k < 2) — R" +
      " bw.SJ aborts on this sample too; use bw = \"silverman\"'))" +
      " AS DOUBLE) ELSE sigma END"),
    "g6" -> ("pow((30 / sqrt(2 * pi())) / " +
      "((105 / (32 * sqrt(pi()) * pow(sigma, 9))) * k), 1e0 / 9)"),
    "psi6" -> oncePerGroup(pairSum("g6",
      u => s"pow($u, 6) - 15 * pow($u, 4) + 45 * pow($u, 2) - 15") +
      " / (k * (k - 1) * pow(g6, 7))"),
    "g4" -> "pow((-6 / sqrt(2 * pi())) / (psi6 * k), 1e0 / 7)",
    "psi4" -> oncePerGroup(
      pairSum("g4", u => s"pow($u, 4) - 6 * pow($u, 2) + 3") +
      " / (k * (k - 1) * pow(g4, 5))"),
    "bw" -> "pow((1e0 / (2 * sqrt(pi()))) / (psi4 * k), 1e0 / 5)",
    // loud degeneracy guard (review r18): sigma = 0 needs only
    // IQR = 0 — ≥ 50% tied epochs, a day-granularity reality, NOT
    // just all-identical samples — and an estimation-noise
    // sign-flipped psi6 NaNs through pow(negative, 1/7); either way
    // bw = NaN, and NaN ranks FIRST under ORDER BY new_score DESC —
    // a valid-looking, garbage run file. R's bw.SJ ABORTS on these
    // samples (so does its n = 1 case); match it instead of shipping
    // silent wrong output.
    // bw IS NULL first (ADVICE r18): a NULL epoch in the sample
    // (epoch is try_cast'ed in TrecSgml, so NULL is legal input)
    // propagates NULL through the pair sums to bw — under the old
    // isnan/<=0 predicate that NULL fell to ELSE and ranked silently.
    "bw" -> ("CASE WHEN bw IS NULL OR isnan(bw) OR bw <= 0" +
      " THEN CAST(raise_error(" +
      "concat('SJ bandwidth degenerate for qid ', CAST(qid AS STRING)," +
      " ': sigma = 0 (>= 50% tied epochs), a NULL epoch in the" +
      " sample, sign-flipped pilot, or k < 2 — R bw.SJ aborts on this" +
      " sample too; use bw = \"silverman\"')) AS DOUBLE) ELSE bw END"))
  def rescoreExpr(alpha: String = "5e-1") =
    s"round($alpha * ln(kde) + (1 - $alpha) * score, 6)"

  /** Density per result row: (qid, doc_id, score, kde).
    *
    * `weighted = true` is the reference's exact shape — each kernel
    * weighted by its document's retrieval score, normalized per query
    * (`RKernelDensity.java:28-30`: weights = weights/sum(weights));
    * bandwidth stays score-independent, as R computes bw on the sample
    * alone. On the committed R golden the weighted variant reproduces
    * the reference ranking EXACTLY (KdeGoldenSpec); the unweighted
    * default remains the oracle-gated ir20/ir27 semantics.
    */
  def withDensity(ranked: DataFrame, weighted: Boolean = false,
                  bw: String = "silverman"): DataFrame = {
    val term = (if (weighted) s"p.w2 * ($kdeTerm)" else kdeTerm)
      .replace("ep2", "p.ep2")
    withBandwidth(ranked, bw)
      .withColumn("ksum", expr(
        s"aggregate(pts, CAST(0 AS DOUBLE), (s, p) -> s + $term)"))
      .withColumn("kde", expr(if (weighted) kdeFinalWeighted else kdeFinal))
      .select("qid", "doc_id", "score", "kde")
  }

  /** Per-query stats + `bw` column over `ranked`, bandwidth selected
    * by `bw`: `"silverman"` (default; the oracle-gated ir20/ir27
    * semantics) or `"sj"` (the reference's R `bw="SJ-dpi"`).
    *
    * Every per-query statistic is a WINDOW and the k×k kernel sum a
    * higher-order aggregate over the collected (ep, score) pairs: ONE
    * reference to the input plan. The former groupBy-stats +
    * self-join shape referenced `ranked` three times, and since
    * `ranked` is usually a whole retrieval pipeline, each reference
    * re-derived it (ir20 carried 9 parquet scans; 3 after this).
    * Legal because k is the bounded top-k: the collected array is
    * ≤ k elements per row. sort_array makes the kernel summation
    * order deterministic (the old hash-agg order was not).
    */
  private def withBandwidth(ranked: DataFrame, bw: String): DataFrame = {
    val w = "(PARTITION BY qid)"
    val base = ranked
      .withColumn("sd", expr(s"stddev_samp(ep) OVER $w"))
      .withColumn("k", expr(s"count(*) OVER $w"))
      .withColumn("wtot", expr(s"sum(score) OVER $w"))
      .withColumn("wmin", expr(s"min(score) OVER $w"))
      .withColumn("pts", expr(
        s"sort_array(collect_list(struct(ep AS ep2, score AS w2)) OVER $w)"))
    bw match {
      case "silverman" => base.withColumn("bw", expr(bwExpr))
      case "sj" =>
        val sj = base
          .withColumn("iqr", expr(
            s"percentile(ep, 7.5e-1) OVER $w - percentile(ep, 2.5e-1) OVER $w"))
          .withColumn("eps", expr("transform(pts, p -> CAST(p.ep2 AS DOUBLE))"))
          // the one-row marker oncePerGroup keys the heavy pair sums on
          .withColumn("_kde_pos", expr(
            "row_number() OVER (PARTITION BY qid ORDER BY doc_id)"))
        sjSteps.foldLeft(sj) { case (df, (name, e)) =>
          df.withColumn(name, expr(e))
        }.drop("iqr", "eps", "sigma", "g6", "psi6", "g4", "psi4",
          "_kde_pos")
      case other => throw new IllegalArgumentException(
        s"unknown bandwidth method '$other' (silverman | sj)")
    }
  }

  /** One (qid, bw) row per query group — the bandwidth the kernels
    * would use, exposed for parity checks against R.
    */
  def bandwidths(ranked: DataFrame, bw: String = "sj"): DataFrame =
    withBandwidth(ranked, bw).select("qid", "bw").distinct()

  /** @param ranked (qid, doc_id, score, ep) rows — one per retained
    *               result, `ep` an epoch-seconds long
    * @return (qid, doc_id, new_score, new_rank)
    */
  def rescore(ranked: DataFrame, alpha: String = "5e-1",
              weighted: Boolean = false,
              bw: String = "silverman"): DataFrame =
    withDensity(ranked, weighted, bw)
      .withColumn("new_score", expr(rescoreExpr(alpha)))
      .withColumn("new_rank",
        expr("row_number() OVER (PARTITION BY qid ORDER BY new_score DESC, doc_id)"))
      .select("qid", "doc_id", "new_score", "new_rank")

  /** α-sweep rescoring (`RunQueryKDEHBase.java:30` sweeps α 0.1..0.9):
    * the k×k density is computed ONCE, the α grid only re-mixes it.
    * Same density knobs as [[rescore]] (review r14 — the sweep used to
    * hard-code the defaults, making the reference's weighted/SJ shape
    * unreachable in sweep form).
    */
  def rescoreSweep(ranked: DataFrame, alphas: DataFrame,
                   weighted: Boolean = false,
                   bw: String = "silverman"): DataFrame =
    withDensity(ranked, weighted, bw)
      .crossJoin(broadcast(alphas))
      .withColumn("new_score", expr(rescoreExpr("alpha")))
      .withColumn("new_rank",
        expr("row_number() OVER (PARTITION BY qid, alpha ORDER BY new_score DESC, doc_id)"))
      .select("qid", "alpha", "doc_id", "new_score", "new_rank")
}
