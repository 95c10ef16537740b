package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenization and document-vector primitives.
  *
  * The reference tokenizes by splitting on `[^0-9A-Za-z]+` after
  * lowercasing (`nl/utwente/mirex/TrecRun.java:76,127-136`,
  * `QueryTermCount.java:79`, `ClueWebCollectionStats.java:69,84-93`).
  * We express the identical semantics as codegen'd column functions —
  * no UDFs — so the whole tokenize→explode→aggregate path stays inside
  * whole-stage codegen and scales linearly with input bytes.
  */
object TextOps {

  /** `[^0-9a-z]+` split of the lowercased text; may contain "" entries
    * at the edges (filter after explode).
    */
  def tokensCol(text: Column): Column =
    split(lower(text), "[^0-9a-z]+")

  /** (doc_id, term) rows, empty tokens dropped.
    * One narrow pass over the corpus: no shuffle until the caller
    * aggregates.
    */
  def tokens(docs: DataFrame, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), explode(tokensCol(col(textCol))).as("term"))
      .filter(col("term") =!= "")

  /** Tokenizer dispatcher: the codegen'd regex split by default, or
    * the UAX#29 / Lucene-parity path ([[Uax29]]) when the session sets
    * `spark.graft.tokenizer=uax29`. Jobs whose reference twin used the
    * Lucene analyzer (e.g. `TrecWordCount.java:50-77`) route through
    * this so a migration user can flip the flag and reproduce the
    * analyzer's term stats exactly.
    */
  def tokensSelected(spark: SparkSession, docs: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    spark.conf.get("spark.graft.tokenizer", "regex") match {
      case "uax29" => Uax29.tokens(docs, idCol, textCol)
      case _       => tokens(docs, idCol, textCol)
    }

  /** Per-document term frequencies: (doc_id, term, tf).
    * Partial aggregation (map-side combine) is automatic in Catalyst's
    * HashAggregate, mirroring the reference's combiners.
    */
  def termFreqs(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    tokens(docs, idCol, textCol)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Document lengths: (doc_id, dl) — token count per doc. NULL text
    * counts as ZERO tokens (coalesced before tokenizing): the bare
    * `size()` would return the non-ANSI NULL sentinel −1, a negative
    * "length" that silently corrupts any dl-normalized score it joins
    * into, while [[tokens]]/[[termFreqs]] emit zero rows for the same
    * doc — dl = 0 is the consistent reading.
    */
  def docLengths(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      size(filter_tokens(tokensCol(coalesce(col(textCol), lit("")))))
        .cast("long").as("dl"))

  private def filter_tokens(arr: Column): Column =
    filter(arr, t => t =!= "")

  /** The canonical clean-token ARRAY column — lowercased regex split,
    * empties dropped; NULL text yields NULL. ONE definition (review
    * r14): the split/filter idiom had been hand-inlined in four
    * operator files, which de-synchronizes the corpus the moment the
    * tokenizer changes, and three of the copies lacked the NULL guard
    * below.
    */
  def cleanTokensCol(text: Column): Column =
    filter_tokens(tokensCol(text))

  /** NULL-safe token array: NULL text reads as ZERO tokens — the
    * [[docLengths]] convention, shared by every array-shaped consumer
    * (span/window/packing kernels), where a bare `size()` would
    * otherwise return the non-ANSI −1 sentinel into running sums.
    */
  def tokArrayCol(text: Column): Column =
    coalesce(cleanTokensCol(text), array().cast("array<string>"))

  /** k-token shingles joined by a single space: Array[String] column.
    * Docs shorter than k tokens yield an empty array (guard needed:
    * Spark's `sequence(0, -1)` counts DOWN rather than being empty).
    *
    * PERF: pass a MATERIALIZED token-array column (see [[shingleRows]]),
    * not an inline `split(...)` expression — the token subtree is
    * referenced 3k+ times here, and inlining it re-tokenizes the
    * document per element access (measured ~1.5× whole-query cost).
    */
  def shinglesFromToks(toks: Column, k: Int): Column = {
    // NATIVE one-pass expression (functions/TokenShingles; equality
    // with the transform/element_at formulation asserted in VecOpsSpec),
    // built directly so the Column API needs no function registration
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.TokenShingles(
      GraftColumnBridge.expression(toks), GraftColumnBridge.expression(lit(k))))
  }

  /** Legacy convenience: shingles directly from a text column. */
  def shinglesCol(text: Column, k: Int): Column =
    shinglesFromToks(filter_tokens(tokensCol(text)), k)

  /** (idCol, s) shingle rows with the token array materialized in its
    * own projection — two Projects that CollapseProject keeps separate
    * (the array is referenced many times, so inlining is blocked),
    * guaranteeing one tokenization per document.
    */
  def shingleRows(docs: DataFrame, k: Int, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), filter_tokens(tokensCol(col(textCol))).as("toks"))
      .select(col(idCol), explode(shinglesFromToks(col("toks"), k)).as("s"))

  /** (idCol, sh) k-gram hash rows, `sh` = h60 of each [[shingleRows]]
    * shingle, one row per occurrence: the ONE k-gram hash format of
    * decontamination, shingle overlap and Jaccard verification. NULL
    * or empty text and docs shorter than k emit no row.
    */
  def shingleHashes(docs: DataFrame, k: Int,
                    idCol: String = "doc_id"): DataFrame =
    shingleRows(docs, k, idCol)
      .select(col(idCol), graft.functions.DetHash.h60(col("s")).as("sh"))

  /** (doc_id, tk) token arrays of a (doc_id, text) frame, empty
    * array for token-less docs — [[tokArrayCol]], the input frame of
    * [[positionalShingleHashes]] and of the shared scrub kernel.
    */
  def tokArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokArrayCol(col("text")).as("tk"))

  /** [[shingleHashes]] with `pos`, the 1-based shingle start (the
    * oracle's list index), over a frame with a `tk` token-array column
    * ([[tokArrays]]); `tk` is dropped, other columns ride along.
    */
  def positionalShingleHashes(tk: DataFrame, k: Int): DataFrame = {
    val keep = tk.columns.toSeq.filter(_ != "tk").map(col)
    tk.select(keep :+ posexplode(shinglesFromToks(col("tk"), k))
        .as(Seq("_sh_p0", "_sh_s")): _*)
      .select(keep ++ Seq((col("_sh_p0") + 1).as("pos"),
        graft.functions.DetHash.h60(col("_sh_s")).as("sh")): _*)
  }

  /** Default stoplist used by the stopword-filter operator (a stand-in
    * for the reference's side-loaded stoplist, `TrecQueryStats.java:40`).
    */
  val stopwords: Seq[String] = Seq("a", "the")

  /** Side-loaded stoplist file, one word per line (`#` comment lines
    * and blanks skipped, lowercased) — `TrecQueryStats.java:82-96`
    * parity. A stoplist is vocabulary-bounded driver material by
    * construction, so collecting it (to feed a broadcast `isin` /
    * anti-join filter) is the scale-correct move, exactly like the
    * reference's DistributedCache side-load.
    */
  def loadStopwords(spark: SparkSession, path: String): Seq[String] =
    spark.read.textFile(path).collect().toSeq
      .map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(w => w.nonEmpty && !w.startsWith("#"))

  // ---- DuckDB oracle fragments (kept adjacent so the two engines can
  // never drift apart) ----

  /** CTE producing (doc_id, term) from `documents`. */
  val duckTokens: String =
    """SELECT doc_id, t AS term FROM (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS t
      |  FROM documents) u WHERE t <> ''""".stripMargin

  /** CTE producing (doc_id, term, tf). */
  val duckTermFreqs: String =
    s"SELECT doc_id, term, count(*) AS tf FROM ($duckTokens) tk GROUP BY doc_id, term"

  /** CTE producing (doc_id, dl). */
  val duckDocLengths: String =
    s"SELECT doc_id, count(*) AS dl FROM ($duckTokens) tk GROUP BY doc_id"
}
