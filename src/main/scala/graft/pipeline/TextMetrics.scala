package graft.pipeline

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis metrics for corpus curation, as a public API over any
  * (doc_id, text) DataFrame. The declared oracle queries px11 / px12 /
  * px29 / px30 / px39 call straight into these — the formulas here ARE
  * the hash-verified ones.
  *
  * Scale design (100 TB): every metric is one narrow tokenize pass plus
  * one keyed aggregation (partial aggregation map-side); nothing
  * shuffles token-granularity rows except the per-doc groupBy, and
  * sequence packing partitions by shard so no global ordering exists
  * anywhere.
  */
object TextMetrics {

  /** The composite score over (n_types, n_tokens, n_stop) columns —
    * ONE string shared by [[quality]] and the px11/px45 oracles.
    */
  val qualityScoreExpr: String =
    "round((n_types / n_tokens) * 5e-1 + (1 - n_stop / n_tokens) * 5e-1, 6)"

  /** Per-doc lexical quality: token/type counts, type-token ratio,
    * stopword ratio, and a 50/50 composite score (the
    * length/punct/stopword-family signal of C4-style curation).
    * Requires an `n_chars` column (or join one in beforehand).
    *
    * ONE ROW PER INPUT DOC (review r18, the r14 NULL convention this
    * file's siblings follow): a token-less doc (NULL text, punct- or
    * whitespace-only) gets NULL token stats and a NULL quality score —
    * the old inner join silently DROPPED it, so it bypassed any
    * curation funnel keyed on this frame without a verdict.
    */
  def quality(docs: DataFrame): DataFrame = {
    val stop = TextOps.stopwords.map("'" + _ + "'").mkString(",")
    val aggs = TextOps.tokens(docs)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("term")).as("n_types"),
        expr(s"sum(CASE WHEN term IN ($stop) THEN 1 ELSE 0 END)").as("n_stop"))
    // ONE combined scan for the char-level columns: two separate
    // joins would scan the docs source twice and pay two joins for
    // columns that come off the same row
    // nullif: NULL-text docs must get NULL n_punct (the tokenCounts
    // r14 convention — non-ANSI size() returns the -1 sentinel on
    // NULL input, which would surface as a NEGATIVE punct_ratio
    // whenever n_chars > 0, while the oracle's len(NULL) is NULL)
    docs.select(col("doc_id"), col("n_chars"),
        expr("nullif(size(regexp_extract_all(text, '[^0-9a-zA-Z\\\\s]', 0)), -1)")
          .cast("bigint").as("n_punct"))
      .join(aggs, Seq("doc_id"), "left")
      .withColumn("ttr", expr("round(n_types / n_tokens, 6)"))
      .withColumn("stop_ratio", expr("round(n_stop / n_tokens, 6)"))
      // nullif divisor: the file's one previously-unguarded division —
      // a text='' doc has n_chars = 0 and would throw ANSI
      // DIVIDE_BY_ZERO mid-query; NULL ratio instead (mirrored in the
      // px11 oracle), the same convention every sibling ratio follows
      .withColumn("punct_ratio",
        expr("round(n_punct / nullif(n_chars, 0), 6)"))
      .withColumn("quality", expr(qualityScoreExpr))
      .select("doc_id", "n_chars", "n_tokens", "n_types", "ttr",
        "stop_ratio", "punct_ratio", "quality")
  }

  /** Whitespace and regex token counts per doc. NULL text yields NULL
    * counts (review r14): Spark's non-ANSI size() returns the -1
    * sentinel on NULL input — a negative "count" that silently skews
    * any downstream sum — while the px12 oracle's len(NULL) is NULL;
    * the nullif pins both engines to the same NULL reading.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("nullif(size(filter(split(text, '\\\\s+'), x -> x <> '')), -1)")
        .cast("bigint").as("n_ws"),
      expr("nullif(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)), -1)")
        .cast("bigint").as("n_re"))

  /** Gopher-rule keep verdict over the stat columns emitted by
    * [[gopherRules]] — ONE expression string shared verbatim with the
    * px43 DuckDB oracle (cross-engine rule: never two copies of a
    * gated formula; fractional literals in e-notation so Spark doesn't
    * parse them as DECIMAL). Bounds follow Rae et al. 2021 (Gopher,
    * arXiv:2112.11446) with TWO corpus calibrations, both tightened so
    * the rules bind on this synthetic corpus: word-count floor 30
    * (paper: 50; docs here span 10–99 words) and mean-word-length
    * floor 4 (paper: 3; corpus mwl spans 3.7–5.3).
    */
  val gopherKeepExpr: String =
    "CAST(CASE WHEN n_words >= 30 AND n_words <= 100000" +
      " AND mean_word_len >= 4e0 AND mean_word_len <= 1e1" +
      " AND alpha_frac >= 8e-1 AND sym_ratio <= 1e-1" +
      " THEN 1 ELSE 0 END AS INT)"

  /** Gopher-style rule filter (Rae et al. 2021 §A1.1): per-doc word
    * count, mean word length, alphabetic-word fraction, and
    * symbol-to-word ratio ('#' and '...'), plus the 0/1 keep verdict
    * of [[gopherKeepExpr]]. One narrow map over the text column — no
    * shuffle at all, so the filter streams at scan speed at any corpus
    * size (the repetition and perplexity Gopher signals, which do need
    * aggregation, are [[repetition]] and [[perplexity]]).
    */
  def gopherRules(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        expr("filter(split(text, '\\\\s+'), x -> x <> '')").as("w"),
        expr("CAST(size(regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0)) AS BIGINT)")
          .as("n_sym"))
      // nullif guards: zero-word docs would DIVIDE_BY_ZERO under ANSI
      // (stats NULL, keep CASE quietly drops them — EdgeCaseSpec; same
      // guard in the px43 oracle), and NULL-text docs would hit the
      // non-ANSI size() = −1 sentinel — the old shape emitted
      // n_words = −1 with alpha_frac = sym_ratio = (−1)/(−1) = 1.0, a
      // plausible-looking PERFECT score for a doc with no text, where
      // the oracle's len(NULL) is NULL (review r14). Both sentinels
      // now read NULL on both engines; keep stays 0 either way.
      .select(col("doc_id"),
        expr("nullif(CAST(size(w) AS BIGINT), -1)").as("n_words"),
        expr("round(aggregate(w, CAST(0 AS BIGINT), (a, x) -> a + length(x))" +
          " / nullif(nullif(CAST(size(w) AS DOUBLE), 0e0), -1e0), 6)")
          .as("mean_word_len"),
        expr("round(size(filter(w, x -> x rlike '[a-zA-Z]'))" +
          " / nullif(nullif(CAST(size(w) AS DOUBLE), 0e0), -1e0), 6)")
          .as("alpha_frac"),
        expr("round(n_sym / nullif(nullif(CAST(size(w) AS DOUBLE), 0e0), -1e0), 6)")
          .as("sym_ratio"))
      .withColumn("keep", expr(gopherKeepExpr))

  /** Unigram-LM cross-entropy and perplexity per doc against the
    * corpus-wide unigram model (the CCNet/C4 quality-filter signal).
    */
  def perplexity(docs: DataFrame): DataFrame = {
    val tf = TextOps.termFreqs(docs)
    val cf = tf.groupBy("term")
      .agg(expr("CAST(sum(tf) AS BIGINT)").as("cf"))
    val cs = tf.agg(expr("CAST(sum(tf) AS BIGINT)").as("n_tokens"))
    tf.join(cf, Seq("term")).crossJoin(broadcast(cs))
      .groupBy("doc_id")
      .agg(expr("CAST(sum(tf) AS BIGINT)").as("dl"),
        sum(expr("tf * ln(cf / n_tokens)")).as("ll"))
      .select(col("doc_id"), col("dl"),
        expr("round(-(ll) / dl, 6)").as("xent"),
        expr("round(exp(-(ll) / dl), 6)").as("ppl"))
  }

  /** CCNet's perplexity-band split: per-language ntile buckets over
    * the [[perplexity]] score (bucket 1 = head / lowest ppl …
    * nBuckets = tail). CCNet trains on head+middle and drops the
    * tail; the bucket column IS that verdict. Ties and float noise
    * are pinned: ppl is 6-dp rounded (engine-portable) and the
    * order is (ppl, doc_id) — bit-identical to
    * `ntile(n) OVER (PARTITION BY lang ORDER BY ppl, doc_id)`.
    *
    * Scale shape (NOT a per-language window): a `ntile` window
    * partitioned by language hash-exchanges the whole corpus on a
    * handful of language keys and sorts each language in ONE task —
    * a multi-TB single-task spill sort once one language dominates a
    * 100 TB corpus. Instead every row gets its exact rank from one
    * range-partitioned pass ([[perplexityBucketsFromScores]]), and
    * every sort task is bounded by the range sampler, not by a
    * language's corpus share. PlanShapeSpec pins the shape: no window
    * partitioned by the bare language column ever consumes
    * un-aggregated corpus rows.
    *
    * ntile boundary math (rank k_b = end of bucket b over n rows):
    * q = n div nB, r = n mod nB ⇒ k_b = b·q + min(b, r); a row with
    * global rank g (by ppl, doc_id) lands in bucket
    * 1 + |{b : g > k_b}| — exactly SQL ntile's front-loaded split.
    */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 3,
                        langCol: String = "lang"): DataFrame = {
    // the range partitioner's sampling job and the shuffle each
    // compute the per-doc frame; WITHOUT a materialization each would
    // re-derive the whole perplexity chain. The per-doc frame is
    // ~40 B/doc — the px29 output artifact a real pipeline would have
    // written anyway — so a lazy localCheckpoint is the at-scale shape
    // too, not just a bench fix.
    // LEFT join from the docs side (review r19): perplexity() emits no
    // row for a token-less doc, and the old inner join silently dropped
    // it from the banding — the one-row-per-input-doc convention
    // quality()'s r18 fix established. A NULL-ppl row buckets
    // nulls-first instead (the assignment half's documented NULL rule),
    // so every input doc carries a verdict. Oracle side mirrored
    // (px68: documents LEFT JOIN p, ntile ORDER BY ppl NULLS FIRST).
    perplexityBucketsFromScores(
      docs.select(col("doc_id"), col(langCol))
        .join(perplexity(docs), Seq("doc_id"), "left")
        .localCheckpoint(false),
      nBuckets, langCol)
  }

  /** The bucket ASSIGNMENT half of [[perplexityBuckets]], for callers
    * who already hold a per-doc scored frame (doc_id, …, ppl, lang) —
    * a written px29 artifact in a real pipeline. Appends `bucket`;
    * every input column rides through (helper columns are
    * `_pb`-prefixed so caller frames can't collide with them).
    *
    * NULL ppl rows (possible only in caller-supplied frames — the
    * internal [[perplexity]] never emits one) are bucketed, not
    * dropped: NULL sorts FIRST (Spark's default ascending order), so
    * they land in the head bucket(s) — the same place Spark's own
    * `ntile(n) OVER (ORDER BY ppl, doc_id)` puts them.
    *
    * Exact ranks without a per-language window or a second shuffle:
    * the frame is range-partitioned ONCE by (lang, ppl, doc_id) and
    * each slice sorted by that key, so a language occupies consecutive
    * slices in rank order and `monotonically_increasing_id()` (`_pb_i`)
    * numbers each slice's rows in rank order. A row's global rank is
    * `off + _pb_i − min(_pb_i) + 1` over its (lang, slice), `off` being
    * the row count of the language's earlier slices; the bucket follows
    * from the boundary math on [[perplexityBuckets]]. The counts,
    * minima, offsets and language totals are at most languages + slices
    * rows, a broadcast side. Spark's range sampler bounds every slice
    * whatever the value distribution, and `doc_id` in the range key
    * spreads a tie mass (boilerplate with identical ppl) over many
    * slices, so no sort task grows with a language's share or a tie's
    * size. Slice boundaries may move between runs (the sampler), but
    * the rank is the same global rank, so outputs are
    * partitioning-independent.
    * SkewProbe measures the shape on a 90%-one-language corpus.
    */
  def perplexityBucketsFromScores(p: DataFrame, nBuckets: Int = 3,
                                  langCol: String = "lang"): DataFrame = {
    require(nBuckets >= 1, s"need nBuckets >= 1, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    if (nBuckets == 1) return p.withColumn("bucket", lit(1L))
    val nPart = p.sparkSession.sessionState.conf.numShufflePartitions
    // lazily checkpointed: the rank and the offsets below both read the
    // slice and row ids, and two executions of repartitionByRange can
    // sample different boundaries (the sampler seeds off the RDD id). The
    // checkpoint freezes one partitioning into the rows, so the
    // (lang, slice) offset join cannot misalign even without exchange
    // reuse. Its blocks hold the whole input frame and live until RDD
    // GC: the returned frame still references them, so they cannot be
    // unpersisted here. Callers looping over many corpora should
    // release each result between iterations.
    val key = Seq(col(langCol), col("ppl"), col("doc_id"))
    val ranged = p
      .repartitionByRange(nPart, key: _*)
      .sortWithinPartitions(key: _*)
      .withColumn("_pb_pid", spark_partition_id())
      .withColumn("_pb_i", monotonically_increasing_id())
      .localCheckpoint(false)
    // rows before each slice within its language, the language total
    // and the slice's first row id: one row per (lang, slice), at most
    // languages + slices rows, so the per-language windows run over a
    // tiny frame
    val offs = ranged.groupBy(col(langCol), col("_pb_pid"))
      .agg(count(lit(1)).as("_pb_pc"), min("_pb_i").as("_pb_i0"))
      .withColumn("_pb_off", coalesce(sum("_pb_pc").over(
        Window.partitionBy(langCol).orderBy("_pb_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_pb_n", sum("_pb_pc").over(Window.partitionBy(langCol)))
      .select(col(langCol).as("_pb_ol"), col("_pb_pid").as("_pb_op"),
        col("_pb_off"), col("_pb_n"), col("_pb_i0"))
    // NULL-SAFE join: docs with a NULL language are a language of
    // their own, as in the ntile window; a plain equi-join would drop
    // them
    ranged
      .join(broadcast(offs),
        col(langCol) <=> col("_pb_ol") && col("_pb_pid") === col("_pb_op"))
      .withColumn("bucket", expr(
        s"1 + size(filter(sequence(1, ${nBuckets - 1}), b ->" +
          s" _pb_off + _pb_i - _pb_i0 + 1 > b * (_pb_n div $nBuckets)" +
          s" + least(CAST(b AS BIGINT), _pb_n % $nBuckets)))").cast("bigint"))
      .select(p.columns.map(col) :+ col("bucket"): _*)
  }

  /** The Gopher/RefinedWeb repetition-rule signals beyond the shingle
    * ratio ([[repetitionRatio]]): per doc,
    *  - `top2_frac` — the character fraction claimed by the most
    *    frequent word 2-gram (occurrences × the pair's char length /
    *    total word chars; Gopher's "top n-gram character fraction"
    *    family at n = 2, drop threshold 0.20 in the paper), and
    *  - `dup5_char_frac` — the fraction of characters COVERED by
    *    duplicated 5-grams (positional union, so overlapping
    *    occurrences count once and the frac is always ≤ 1 — the
    *    "duplicated n-gram character fraction" rules).
    *
    * Cross-engine contract: top pair ties break (cnt desc, a, b);
    * fracs 6-dp rounded; docs with < 2 (resp. < 5) tokens score 0.
    *
    * Scale: tokenize + pair/shingle explodes are narrow; every
    * aggregation/window keys on doc_id or (doc_id, shingle) — the
    * fine-grained keys this file's other per-doc ops use. No
    * corpus-wide key anywhere.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // LEAN shuffle shape (r12). Two alternatives were A/B'd
    // (probes/px71.log):
    //  - a pure NARROW kernel (sorted in-row arrays + fold scans, zero
    //    exchanges) LOST 1.3-1.4x at 160k docs — higher-order
    //    functions are CodegenFallback, so per-element lambdas over
    //    big arrays lose to Tungsten hash aggregation even after
    //    paying the exchanges; the kernel is preserved in the probe as
    //    the rejected branch;
    //  - the r11 five-exchange shape (pair groupBy + rank window,
    //    per-(doc,shingle) count window + positional distinct +
    //    positional join) reproduced per-row math through shuffle
    //    machinery it doesn't need.
    // This shape keeps the Tungsten aggregation paths but halves the
    // exchanges:
    //  - top 2-gram: `min(struct(-cnt, a, b))` per doc — one
    //    partial-aggregable pass instead of the rank window's full
    //    exchange + sort ((-cnt, a, b) min IS the (cnt desc, a asc,
    //    b asc) tie-break);
    //  - dup-5-gram coverage: per-(doc, shingle) position lists,
    //    duplicated shingles exploded to covered positions, one
    //    collect_set per TOUCHED doc, chars summed by a narrow fold
    //    against the token array (the scrub-kernel trick) — no
    //    count window, no positional distinct, no positional join.
    // Every key is doc-fine-grained. Buffer bound, precisely: the
    // per-doc position collect_set plans as ObjectHashAggregate,
    // whose sort-based fallback (default threshold 128 in-memory
    // groups) sorts input spillably and then builds ONE group buffer
    // at a time — so a task's worst case is a single doc's distinct
    // positions (ints), the same order as the doc's own `tk` array
    // row this operator already carries. That bound is IRREDUCIBLE
    // for a per-doc distinct-union statistic short of re-paying the
    // positional (doc, pos) exchanges the §0j A/B rejected — unlike
    // tokenizeAndPack's buffer, which was reducible to seqLen because
    // its output never needed the whole doc at once.
    val tk = docs.select(col("doc_id"),
      TextOps.tokArrayCol(col("text")).as("tk"))
      .withColumn("tot", expr(
        "aggregate(tk, CAST(0 AS BIGINT), (a, x) -> a + length(x))"))
    val pairs = tk
      .select(col("doc_id"), col("tot"), explode(expr(
        """zip_with(slice(tk, 1, greatest(size(tk) - 1, 0)),
          |         slice(tk, 2, greatest(size(tk) - 1, 0)),
          |  (x, y) -> struct(x AS a, y AS b))""".stripMargin)).as("p"))
      .groupBy(col("doc_id"), col("tot"),
        col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val top2 = pairs
      .groupBy("doc_id")
      .agg(min(struct((-col("cnt")).as("nc"), col("a"), col("b")))
        .as("t"), max("tot").as("tt"))
      .select(col("doc_id"), expr(
        "round((-t.nc) * (length(t.a) + length(t.b)) / CAST(tt AS DOUBLE), 6)")
        .as("top2_frac"))
    val sh = tk.select(col("doc_id"),
      posexplode(TextOps.shinglesFromToks(col("tk"), 5)).as(Seq("i0", "s")))
    val cov = sh
      .groupBy(col("doc_id"), col("s"))
      .agg(count(lit(1)).as("c"), collect_list(col("i0")).as("is"))
      .filter(col("c") >= 2)
      .select(col("doc_id"), explode(expr(
        "flatten(transform(is, i0 -> sequence(i0 + 1, i0 + 5)))"))
        .as("pos"))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("cov"))
    tk.select(col("doc_id"), expr("CAST(size(tk) AS BIGINT)").as("n_tok"),
        col("tot"), col("tk"))
      .join(top2, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("tot").as("tot_chars"),
        coalesce(col("top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(expr(
          """round(aggregate(cov, CAST(0 AS BIGINT),
            |  (a, p) -> a + length(element_at(tk, p)))
            |  / CAST(nullif(tot, 0) AS DOUBLE), 6)""".stripMargin),
          lit(0.0)).as("dup5_char_frac"))
  }

  /** Within-doc repetition ratio over n-token shingles (the Gopher
    * repetition filter): 1 − distinct/total. Docs shorter than one
    * shingle emit no row.
    */
  def repetitionRatio(docs: DataFrame, n: Int = 3): DataFrame = {
    // fast-fail like every sibling numeric param (review r19): n < 1
    // builds a degenerate shingle stream instead of erroring
    require(n >= 1, s"repetitionRatio shingle size must be >= 1, got $n")
    TextOps.shingleRows(docs, n)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        countDistinct(col("s")).as("d_sh"))
      .select(col("doc_id"), col("n_sh"), col("d_sh"),
        expr("round(1 - d_sh / n_sh, 6)").as("rep_ratio"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, SIGMOD — the
    * rolling-hash document sketch behind MOSS): hash every k-gram,
    * slide a window of `w` consecutive hashes, select each window's
    * MINIMUM — the selected set is a deterministic o(n) sketch with
    * the guarantee that any shared run of ≥ w+k−1 tokens yields at
    * least one shared fingerprint. → per doc: full-window count,
    * distinct fingerprint count, the smallest selected fingerprint
    * (a stable cluster key), and the selection density.
    *
    * Scale: positions are a narrow map, the rolling min is one
    * doc-partitioned window (no self-join), the summary one keyed
    * aggregation — O(tokens) like [[Dedup.dupSpans]], and the sketch
    * (not the corpus) is what downstream overlap joins touch.
    */
  def winnowingFingerprints(docs: DataFrame, k: Int = 4,
                            w: Int = 5): DataFrame =
    winnowedMinima(docs, k, w)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("wmin")).as("n_fp"),
        expr("CAST(min(wmin) AS BIGINT)").as("min_fp"))
      .withColumn("fp_density",
        expr("round(n_fp / CAST(n_windows AS DOUBLE), 6)"))

  /** The winnowing SELECTION itself: each doc's distinct chosen
    * fingerprints → (doc_id, fp). This o(n) sketch — not the corpus —
    * is what overlap detection joins on (px54): two docs sharing a
    * ≥ w+k−1 token run share an fp by the winnowing guarantee.
    */
  def winnowingSelection(docs: DataFrame, k: Int = 4,
                         w: Int = 5): DataFrame =
    winnowedMinima(docs, k, w)
      .select(col("doc_id"), col("wmin").as("fp")).distinct()

  /** (doc_id, wmin) per FULL window of w consecutive k-gram hashes. */
  private def winnowedMinima(docs: DataFrame, k: Int, w: Int): DataFrame = {
    // guards both public entry points (review r19): w = 0 builds an
    // invalid "CURRENT ROW AND -1 FOLLOWING" window frame, and k < 1
    // makes no k-gram — fail at build like the sibling numeric params
    require(k >= 1, s"winnowing k-gram size must be >= 1, got $k")
    require(w >= 1, s"winnowing window size must be >= 1, got $w")
    val sh = docs
      .select(col("doc_id"),
        graft.text.TextOps.tokArrayCol(col("text"))
          .as("toks"))
      .select(col("doc_id"),
        posexplode(TextOps.shinglesFromToks(col("toks"), k))
          .as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"),
        graft.functions.DetHash.h60(col("s")).as("h"))
    val win = s"PARTITION BY doc_id ORDER BY pos" +
      s" ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING"
    sh.withColumn("wn", expr(s"count(*) OVER ($win)"))
      .withColumn("wmin", expr(s"min(h) OVER ($win)"))
      .filter(col("wn") === w)
      .select("doc_id", "wmin")
  }

  /** Sequence packing: concatenate each shard's docs in doc_id order
    * and chunk into `budget`-token windows; a doc belongs to the window
    * holding its first token → (shard, doc_id, n_tok, seq_id).
    * Per-shard windows keep the cumulative sum partition-parallel.
    */
  def packSequences(docs: DataFrame, budget: Int,
                    shardCol: String = "source"): DataFrame = {
    // fast-fail like every sibling numeric param (review r18): 0
    // reaches `div 0` — an ANSI DIVIDE_BY_ZERO mid-job — and a
    // negative budget silently corrupts seq_ids
    require(budget > 0, s"packSequences budget must be positive, got $budget")
    // shardCol via the Column API, not raw SQL interpolation (review
    // r19, the perplexityBucketsFromScores langCol convention): a
    // caller column named e.g. `my shard` or `a-b` must resolve as a
    // name, never parse as SQL
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col(shardCol), col("doc_id"),
        size(graft.text.TextOps.tokArrayCol(col("text")))
          .cast("bigint").as("n_tok"))
      .withColumn("cum0", coalesce(sum(col("n_tok")).over(
        Window.partitionBy(col(shardCol)).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("seq_id", expr(s"cum0 div $budget"))
      .select(col(shardCol), col("doc_id"), col("n_tok"), col("seq_id"))
  }

  /** Hard ceiling on windows per doc: consumers (px61,
    * `Jobs.prepareTrainingData`) arg-min the keeper through a packed
    * `doc_id * 2^20 + win_id` bigint, which silently corrupts once
    * win_id reaches 2^20 (≈16.8M tokens at stride 16 — far past any
    * real document, but "improbable" is not "guarded"). Enforced as a
    * runtime raise_error on the per-doc window count, so a pathological
    * doc fails the job loudly instead of folding into the wrong keeper.
    */
  val MaxWindowsPerDoc: Int = 1 << 20

  /** Sliding-window chunking with overlap — the OTHER pretraining
    * batch-prep shape next to [[packSequences]]: instead of packing
    * whole docs end-to-end, each doc's tokens are cut into windows of
    * `win` tokens starting at multiples of `stride`; stride < win makes
    * consecutive windows share `win − stride` tokens, so no training
    * example loses cross-boundary context (the standard long-document
    * treatment in LM fine-tuning loaders). Window count per doc is
    * 1 + ceil(max(n − win, 0)/stride): window starts advance by
    * `stride` until a window contains the last token, so every token
    * is covered and only the final window may run short. →
    * (doc_id, win_id, start_tok, n_tok, wh) where `wh` is the portable
    * h60 fingerprint of the window text — the key downstream window
    * dedup/grouping rides on (overlapping windows of duplicated docs
    * collide on `wh` exactly like whole-doc fingerprints do).
    *
    * Scale: entirely narrow — tokenize, one `sequence` explode, one
    * array slice per window; ZERO shuffles, so it streams at scan
    * speed at any corpus size. Output rows ≈ tokens/stride, bounded
    * by construction.
    */
  def chunkWindows(docs: DataFrame, win: Int, stride: Int,
                   withText: Boolean = false): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win,
      s"need 0 < stride <= win, got win=$win stride=$stride")
    val base = docs
      .select(col("doc_id"),
        graft.text.TextOps.tokArrayCol(col("text"))
          .as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("nw", expr(
        s"1 + CAST(ceil(greatest(size(toks) - $win, 0)" +
          s" / CAST($stride AS DOUBLE)) AS INT)"))
      .withColumn("nw", expr(
        s"""IF(nw <= $MaxWindowsPerDoc, nw, CAST(raise_error(
           |  concat('chunkWindows: doc ', CAST(doc_id AS STRING), ' has ',
           |    CAST(nw AS STRING), ' windows; the packed win_id overflows',
           |    ' at $MaxWindowsPerDoc — raise stride or split the doc'))
           |  AS INT))""".stripMargin))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, nw - 1)")).as("k"))
      .select(col("doc_id"), col("k").cast("long").as("win_id"),
        expr(s"CAST(k * $stride AS BIGINT)").as("start_tok"),
        expr(s"slice(toks, k * $stride + 1, $win)").as("wt"))
      .select(col("doc_id"), col("win_id"), col("start_tok"),
        size(col("wt")).cast("long").as("n_tok"),
        graft.functions.DetHash.h60(concat_ws(" ", col("wt"))).as("wh"),
        concat_ws(" ", col("wt")).as("win_text"))
    // the fingerprint, not the text, is the default payload (px58's
    // oracle shape); withText keeps the materialized example
    if (withText) base else base.drop("win_text")
  }

  /** PII masking patterns (kind, regex, replacement), applied in this
    * order. The standard regex-masking pass of corpus curation
    * (Dolma/CCNet-style): deliberately naive, deliberately documented —
    * the email pattern is the usual RFC-blind approximation, the phone
    * pattern is NANP 3-3-4 with `-`/`.` separators, and the IPv4
    * pattern accepts any 1–3-digit octets (so version strings like
    * `1.2.3.4` also mask; callers who care pre-filter). Patterns use
    * only the regex subset Java and RE2 interpret identically (ASCII
    * classes, `\b`, bounded repetition — no lookaround, no backrefs),
    * so the DuckDB oracle replays them verbatim.
    *
    * Scale: three codegen'd `regexp_replace`/`regexp_count` passes per
    * doc, no shuffle at all — the cheapest class of operator here.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
      "<EMAIL>"),
    ("phone", """\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b""", "<PHONE>"),
    ("ip", """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b""", "<IP>"))

  /** `c` with every PII match replaced by its placeholder. Column API
    * (not expr strings): Spark's SQL parser would eat the `\b` escapes,
    * the Column form passes the patterns verbatim.
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (_, p, r)) =>
      regexp_replace(acc, lit(p), lit(r))
    }

  /** Per-kind match counts for `c`, aliased `n_<kind>` — each kind
    * counted on the text with all PRIOR kinds already masked, the
    * exact intermediate [[redactPii]]'s fold sees, so Σ counts equals
    * the number of replacements redaction performs (review r18: the
    * old raw-text counting DOUBLE-counted overlapping kinds — a
    * digit-local-part email like 555-123-4567@x.com reported a phone
    * that redaction never masks — while its comment claimed the
    * opposite).
    */
  def piiCounts(c: Column): Seq[Column] = {
    val masked = piiPatterns.scanLeft(c) { case (acc, (_, p, r)) =>
      regexp_replace(acc, lit(p), lit(r))
    }
    piiPatterns.zip(masked).map { case ((k, p, _), pre) =>
      regexp_count(pre, lit(p)).cast("bigint").as(s"n_$k")
    }
  }

  /** DuckDB twins for oracle authoring (RE2 reads the same patterns,
    * same progressive masking as [[piiCounts]]). */
  def duckRedactPii(e: String): String =
    piiPatterns.foldLeft(e) { case (acc, (_, p, r)) =>
      s"regexp_replace($acc, '$p', '$r', 'g')"
    }
  def duckPiiCounts(e: String): Seq[String] = {
    val masked = piiPatterns.scanLeft(e) { case (acc, (_, p, r)) =>
      s"regexp_replace($acc, '$p', '$r', 'g')"
    }
    piiPatterns.zip(masked).map { case ((k, p, _), pre) =>
      s"len(regexp_extract_all($pre, '$p')) AS n_$k"
    }
  }

  /** Span-level decontamination (the surgical counterpart of the
    * px24/px56 doc-level flag): remove every token covered by a k-gram
    * whose h60 hash appears in `bench` (one `sh` column), then stitch
    * the survivors back into `clean_text`. Lee et al. 2022's
    * exact-substring treatment applied to benchmark overlap — drop the
    * overlapping SPAN, keep the document.
    *
    * Output: (doc_id, clean_text, n_kept, n_removed), one row per
    * input doc — fully-scrubbed docs stay, with clean_text = ''.
    *
    * Scale (100 TB): the benchmark hash set is bounded by the eval
    * suites, so the hit join broadcasts (compose with the px56 Bloom
    * prefilter when it outgrows that); covered positions are an exact
    * ×k explode of the HITS only, never of the corpus; everything else
    * is doc_id-keyed — one shuffle to re-aggregate the survivors.
    */
  def scrubContaminated(docs: DataFrame, bench: DataFrame,
                        k: Int = 5): DataFrame = {
    // fast-fail (review r19): k = 0 makes sequence(i, i-1) DESCEND in
    // Spark — the cover explode would silently excise a wrong token
    require(k >= 1, s"scrub shingle size must be >= 1, got $k")
    // null text folds to the empty token array, so null docs come out
    // as ('', 0, 0) like empty docs — not a NULL n_removed
    val tk = docs.select(col("doc_id"),
      TextOps.tokArrayCol(col("text")).as("tk"))
    // 1-based shingle starts, matching the oracle's list indexing
    val hs = tk
      .select(col("doc_id"),
        posexplode(TextOps.shinglesFromToks(col("tk"), k))
          .as(Seq("i0", "s")))
      .select(col("doc_id"), (col("i0") + 1).as("i"),
        graft.functions.DetHash.h60(col("s")).as("sh"))
    val covered = hs.join(broadcast(bench.select("sh").distinct()), Seq("sh"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
    // no distinct(): the kernel's collect_set dedups positions with
    // map-side combine — one exchange fewer on the hit stream
    scrubByCoveredPositions(tk, covered)
  }

  /** Shared removal kernel: excise `covered` (doc_id, pos) token
    * positions from a tokenized corpus `tk` (doc_id, tk) and stitch —
    * → (doc_id, clean_text, n_kept, n_removed), one row per doc.
    *
    * Shape (r11 rewrite): the covered positions aggregate to ONE
    * small array per TOUCHED doc (hits-only shuffle), then a single
    * doc-keyed join + NARROW array surgery rebuilds the text —
    * `array_except(sequence(1, n), cov)` keeps surviving positions in
    * order (hash-based, O(n) per doc), `element_at` re-reads the
    * tokens. Untouched docs (the overwhelming majority of a real
    * decontamination pass) take the no-surgery branch: one concat_ws.
    * The r10 shape exploded EVERY token of EVERY doc and re-stitched
    * through an (doc_id, pos) anti-join + collect_list aggregation —
    * two corpus-sized shuffles to mostly reproduce input text
    * (measured 1.72 s px62 / 2.00 s px72 at sf0.1 under the honest
    * §0g bench; the rewrite's A/B is in the §0g addendum).
    */
  private[pipeline] def scrubByCoveredPositions(
      tk: DataFrame, covered: DataFrame): DataFrame = {
    // collect_SET (r12): duplicate (doc, pos) hits — overlapping
    // spans, repeated benchmark shingles — dedup inside the
    // aggregation buffer with map-side combine, so callers don't need
    // a corpus-exchange distinct() ahead of this kernel; n_removed =
    // size(cov) needs distinct positions and now gets them here. The
    // buffer stays bounded by the doc's token count; element order is
    // irrelevant (array_except + size are the only consumers).
    val covArr = covered.groupBy("doc_id")
      .agg(collect_set(col("pos")).as("_sc_cov"))
    tk.join(covArr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_sc_cov").isNull, concat_ws(" ", col("tk")))
          .otherwise(concat_ws(" ",
            transform(
              array_except(sequence(lit(1), size(col("tk"))),
                col("_sc_cov")),
              p => element_at(col("tk"), p)))).as("clean_text"),
        when(col("_sc_cov").isNull, size(col("tk")).cast("long"))
          .otherwise((size(col("tk")) - size(col("_sc_cov")))
            .cast("long")).as("n_kept"),
        coalesce(size(col("_sc_cov")), lit(0)).cast("long")
          .as("n_removed"))
  }

  /** The deflate-ratio definition, ONE place over pre-projected byte
    * columns: both the per-doc signal and the banding input derive
    * from it, so the formula (6-dp rounding, the empty-doc nullif
    * guard) cannot drift between them. Since r14 the px85 oracle
    * replays this formula in SQL from the materialized kernel
    * artifact, so drift would go loudly red there too.
    */
  private def deflateRatio(deflateBytes: String, nBytes: String): Column =
    expr(s"round($deflateBytes / CAST(nullif($nBytes, 0) AS DOUBLE), 6)")

  /** Compressibility quality signal (CCNet / RedPajama-v2 style):
    * per-doc DEFLATE length and ratio = deflate_bytes / n_bytes.
    * Highly compressible text (ratio → 0) is boilerplate or
    * repetition; incompressible text (ratio → 1+) is noise or already
    * compressed — natural language sits in between, and the standard
    * filter keeps a band. Pure narrow map over the corpus via the
    * native `deflate_len` expression (a per-thread zlib Deflater
    * inside whole-stage codegen — no UDF, no shuffle). No DuckDB
    * oracle exists for DEFLATE, so this signal is spec-verified by
    * zlib-invariant ORDERING properties, not a cross-engine hash
    * (the only non-oracle-able op in the text family; documented in
    * COVERAGE.md). An empty doc reports (n_bytes = 0, deflate_bytes =
    * 8 — the fixed empty-stream frame, see [[
    * graft.functions.DeflateLen]] — ratio = NULL via nullif).
    */
  def compressionSignal(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      expr("deflate_len(text)").as("deflate_bytes"))
      .withColumn("ratio", deflateRatio("deflate_bytes", "n_bytes"))

  /** Per-language deflate-ratio TERCILES (CCNet's head/middle/tail
    * treatment applied to the compressibility axis): docs bucketed
    * into `nBuckets` equal-count bands of [[compressionSignal]]'s
    * ratio within each language, via the same range-partitioned rank
    * bucketer the perplexity bands use ([[perplexityBucketsFromScores]]
    * — no corpus-cardinality window, no single-task sort). Bucket 1 =
    * most compressible (boilerplate/repetition), bucket `nBuckets` =
    * least (noise); the curation keep-band is the middle — px85
    * composes this with the Gopher gate as a funnel stage. Empty docs
    * (ratio NULL) sort first, the bucketer's documented NULL rule.
    * → (doc_id, lang, ratio, bucket).
    */
  def compressionBuckets(docs: DataFrame, nBuckets: Int = 3,
                         langCol: String = "lang"): DataFrame =
    // lazy localCheckpoint before the bucketer (review r19, the
    // perplexityBuckets sibling shape): the assignment half's range
    // partitioner samples its input in one job and shuffles it in
    // another, so an un-materialized lens frame pays the DEFLATE
    // kernel — the file's most expensive narrow op — twice per run
    // (px85). The lens is ~40 B/doc — the artifact a real pipeline
    // writes anyway (px85's own prepare hook materializes exactly this
    // frame), so the checkpoint is the at-scale shape too.
    compressionBucketsFromLens(
      docs.select(col("doc_id"), col(langCol),
        octet_length(col("text")).cast("long").as("n_bytes"),
        expr("deflate_len(text)").as("deflate_len"))
        .localCheckpoint(false),
      nBuckets, langCol)

  /** [[compressionBuckets]] from an already-materialized kernel
    * artifact (doc_id, lang, n_bytes, deflate_len) — the px85
    * oracle-modulo-kernel gate (r13 verdict): the DEFLATE kernel is
    * the one step SQL cannot replay, so the funnel query materializes
    * the kernel outputs to parquet and every downstream step (the
    * ratio formula, the band cut, the Gopher cross) is cross-engine
    * compared FROM that table; only deflate_len itself stays
    * spec-pinned (GopherRulesSpec zlib invariants). Also the real
    * pipeline shape: at scale the deflate pass is a written per-doc
    * signal artifact, not recomputed per consumer.
    */
  def compressionBucketsFromLens(lens: DataFrame, nBuckets: Int = 3,
                                 langCol: String = "lang"): DataFrame =
    perplexityBucketsFromScores(
      lens.select(col("doc_id"), col(langCol),
        deflateRatio("deflate_len", "n_bytes").as("ppl")),
      nBuckets, langCol)
      .select(col("doc_id"), col(langCol), col("ppl").as("ratio"),
        col("bucket"))

  /** Feature-hashed document vectors (the hashing trick, Weinberger
    * et al. 2009): model-free L2-normalized bag-of-words features —
    * bucket `j = h60(token) mod dim`, count token OCCURRENCES per
    * bucket, normalize by the doc's L2 norm. Sparse long form
    * (doc_id, j, c, w): zero buckets are absent, so the output is
    * O(tokens) not O(docs · dim), and the rows feed classifiers
    * (Classify), brute/ANN cosine (Ann) and dedup directly — doc
    * features at corpus scale with no model artifact to ship.
    *
    * Scale shape: one (doc, bucket) aggregation (map-side combined —
    * the key space is docs × ≤dim); the norm is a window over the
    * AGGREGATED rows, partitioned by doc over ≤dim rows each — never
    * raw corpus rows. Determinism: counts are integers, the norm is
    * sqrt of an integer sum, and `w` is 6-dp-rounded — the repo's
    * cross-engine float contract.
    */
  def featureHashVectors(docs: DataFrame, dim: Int = 64): DataFrame = {
    require(dim >= 2, s"need dim >= 2, got $dim")
    docs
      .select(col("doc_id"),
        explode(graft.text.TextOps.tokensCol(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .withColumn("j", graft.functions.DetHash.h60(col("t")) % dim)
      .groupBy("doc_id", "j").agg(count(lit(1)).as("c"))
      .withColumn("w", expr(
        "round(c / sqrt(sum(c * c) OVER (PARTITION BY doc_id)), 6)"))
  }
}
