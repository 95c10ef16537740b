package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import scala.collection.mutable.ArrayBuffer

/** Byte-pair-encoding tokenizer: TRAIN (learn the merge table by
  * iterated most-frequent-adjacent-pair counting, Sennrich et al. 2016)
  * and ENCODE (apply the ranked merges to text).
  *
  * px22 computes the merge-induction *statistic* (pair counts); this is
  * the full loop — each round recounts pairs over the CURRENT encoding,
  * so later merges can consume earlier merges' symbols (e.g. `er` then
  * `m`+`er` → `mer`), which one-shot ranking can never produce.
  *
  * Scale design (100 TB):
  *  - Training runs on the distinct-WORD dictionary weighted by word
  *    count — the only corpus-sized pass is the dictionary aggregation
  *    itself (one shuffle on the word), checkpointed once. A dictionary
  *    of at most [[MaxLocalDict]] words (after `minCount`) is collected
  *    and the exact merge loop runs in driver memory, so training costs
  *    the same few Spark jobs whatever the merge count. Only a larger
  *    dictionary runs one Spark action per merge, each round a lazy
  *    local checkpoint of the vocab-sized frame.
  *  - Encoding with a LEARNED merge table is a pure narrow map: the
  *    merges are driver-side literals (a merge table is a few thousand
  *    rows at GPT-2 scale and k entries here), so the per-word fold
  *    compiles into the expression tree — zero joins, zero shuffles,
  *    zero broadcast state to manage.
  *  - The per-merge application is a single left-to-right fold over the
  *    word's symbols (`aggregate`), which is exactly the "replace every
  *    non-overlapping occurrence" step of BPE: merging (a,b)→ab can
  *    never create a new (a,b) adjacency, so one pass per merge is
  *    complete.
  *
  * Symbols are carried between fold passes as a single 0x1F-joined
  * string (the accumulator must be a scalar for DuckDB `list_reduce`
  * oracle parity; 0x1F never occurs in `[0-9a-z]` tokenizer output).
  */
object Bpe {

  /** Inter-symbol separator inside the fold accumulator. */
  val Sep = "\u001f"

  /** Escape a merge symbol for baking into a Spark string literal:
    * backslashes FIRST (Spark's parser processes backslash escapes in
    * string literals by default — an unescaped '\b' in an external
    * merge table would parse as backspace and silently diverge the
    * ≤32-merge expr encoder from the broadcast encoder; review r16),
    * then quote doubling. Spark-side only — the DuckDB replay binds
    * merges as column refs, never literals.
    */
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  /** Distinct-word dictionary (w, wc) over the standard tokenizer.
    *
    * `minCount` is the trainer's scale lever (the `--min-frequency`
    * of every production BPE trainer): real web corpora have
    * vocabularies dominated by hapax tail words (typos, ids, urls)
    * that contribute one count each to pair statistics but multiply
    * the per-round work; dropping wc < minCount bounds the dict at
    * the head vocabulary. This trades exactness of the pair counts
    * for round cost — the probe log (BENCH_NOTES §3h note) records
    * the effect on a long-tail corpus.
    */
  def wordDict(docs: DataFrame, textCol: String = "text",
               minCount: Long = 1L): DataFrame = {
    val d = docs
      // TextOps.cleanTokensCol, not an inline regex copy (review r16):
      // the canonical tokenizer has ONE definition; a hand-inlined
      // fifth copy would silently de-synchronize BPE training from
      // every TextOps consumer the moment the tokenizer changes
      .select(explode(graft.text.TextOps.cleanTokensCol(col(textCol)))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    if (minCount > 1L) d.filter(col("wc") >= minCount) else d
  }

  /** Adjacent symbol pairs of an array column as (a, b) structs;
    * empty for single-symbol words.
    */
  private def pairsExpr(arr: String): String =
    s"""zip_with(slice($arr, 1, size($arr) - 1),
       |         slice($arr, 2, size($arr) - 1),
       |         (x, y) -> struct(x AS a, y AS b))""".stripMargin

  /** One merge application: left-to-right fold of the symbol array,
    * gluing adjacent (a, b) into ab. `a`/`b` are SQL expressions
    * (literals from a learned table, or column refs). Returns the
    * 0x1F-joined encoding as a STRING expression.
    */
  def foldPassExpr(arr: String, a: String, b: String): String =
    // the merge branch is concat(acc, b): the guard already proves
    // acc ends with symbol a, so strip-a-then-reappend-a was an
    // identity round-trip paid per merge hit per token (review r16)
    s"""aggregate($arr, '', (acc, x) -> CASE
       |  WHEN acc = '' THEN x
       |  WHEN (acc = $a OR endswith(acc, concat('$Sep', $a))) AND x = $b
       |    THEN concat(acc, $b)
       |  ELSE concat(acc, '$Sep', x) END)""".stripMargin

  private def splitExpr(s: String): String =
    s"filter(split($s, '$Sep'), x -> x <> '')"

  /** Initial character-level symbols of a word column. Spark SQL's
    * `split(w, '')` is CODE-POINT-aware (zero-width regex matches
    * never land inside a surrogate pair), so supplementary chars
    * (emoji, CJK ext) are whole symbols — the driver-side twins below
    * must match it via [[codePointSyms]], NOT `String.split("")`,
    * which on the JVM yields lone surrogates that then mangle to '?'
    * on the UTF8String round-trip (advice r14; BpeSpec non-BMP test).
    */
  def charsExpr(wordCol: String): String =
    s"filter(split($wordCol, ''), x -> x <> '')"

  /** Driver/UDF-side twin of [[charsExpr]]: one symbol per Unicode
    * CODE POINT (surrogate pairs stay whole). */
  private[graft] def codePointSyms(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** The largest dictionary (distinct words after `minCount`) the merge
    * loop runs on in driver memory: [[trainEncoded]] hands a larger one
    * to the per-merge Spark loop, and [[trainLocal]] refuses it.
    */
  val MaxLocalDict: Int = 10000000

  /** Learn `k` merges from the corpus. Returns the merge list and the
    * FINAL encoded dictionary (w, wc, cs): every dictionary word under
    * the learned encoding.
    *
    * The dictionary is checkpointed once and counted (the count
    * materializes the checkpoint). Up to [[MaxLocalDict]] words it is
    * collected and the exact loop ([[trainLocalFromDict]]) learns the
    * merges in driver memory; the encoded dictionary is then the
    * learned merges applied as one narrow map over the checkpoint
    * ([[encodeWords]]), the same fold passes the per-merge loop applies
    * one round at a time, so every word's `cs` is identical to that
    * loop's. The Spark jobs are the same for any `k`. A larger
    * dictionary runs [[trainDistributed]].
    */
  def trainEncoded(docs: DataFrame, k: Int, textCol: String = "text",
                   minCount: Long = 1L)
      : (Seq[(String, String)], DataFrame) = {
    val dict = dictCheckpoint(wordDict(docs, textCol, minCount))
    try {
      if (countDict(dict) > MaxLocalDict) trainDistributed(dict, k)
      else trainInMemory(dict, k)
    } catch {
      case e: Throwable => Dedup.unpersistCheckpoint(dict); throw e
    }
  }

  /** Learn `k` merges from the corpus (see [[trainEncoded]]); the
    * encoded dictionary's checkpoint is released.
    */
  def train(docs: DataFrame, k: Int, textCol: String = "text",
            minCount: Long = 1L): Seq[(String, String)] = {
    val (merges, encoded) = trainEncoded(docs, k, textCol, minCount)
    Dedup.unpersistCheckpoint(encoded)
    merges
  }

  /** The merges alone, always in driver memory: the [[trainEncoded]]
    * in-memory branch, but a dictionary of more than `maxDict` words
    * is refused (loudly) instead of trained round by round — raise
    * `minCount`, don't raise the cap, is almost always the right
    * response at 100 TB. `minCount` is the same head-vocabulary lever
    * every production BPE trainer exposes.
    */
  def trainLocal(docs: DataFrame, k: Int, textCol: String = "text",
                 minCount: Long = 1L,
                 maxDict: Int = MaxLocalDict): Seq[(String, String)] =
    trainLocalWords(wordDict(docs, textCol, minCount), k, maxDict)

  /** [[trainLocal]] over a ready (w, wc) word dictionary, so a caller
    * that also encodes the dictionary builds it once.
    */
  def trainLocalWords(words: DataFrame, k: Int,
                      maxDict: Int = MaxLocalDict): Seq[(String, String)] = {
    val dict = dictCheckpoint(words)
    try {
      val n = countDict(dict)
      require(n <= maxDict,
        s"dictionary has $n words (> maxDict=$maxDict); raise minCount " +
          "so the head vocabulary fits the driver")
      trainLocalFromDict(collectDict(dict), k)
    } finally Dedup.unpersistCheckpoint(dict)
  }

  /** The (w, wc, cs) training dictionary of a (w, wc) word frame, `cs`
    * the word's character symbols, as a lazy local checkpoint.
    */
  private[pipeline] def dictCheckpoint(words: DataFrame): DataFrame =
    words.withColumn("cs", expr(charsExpr("w")))
      .coalesce(8) // vocab-sized from here on; don't pay 32 tasks/round
      .localCheckpoint(false)

  /** Words in a [[dictCheckpoint]], counted on its RDD: one job, which
    * also materializes the checkpoint (a Dataset count adds a shuffle
    * for its global aggregate).
    */
  private def countDict(dict: DataFrame): Long =
    Dedup.checkpointRdds(dict).map(_.count()).sum

  private def collectDict(dict: DataFrame): Array[(Array[String], Long)] =
    dict.select("cs", "wc").collect()
      .map(r => (r.getSeq[String](0).toArray, r.getLong(1)))

  /** The in-memory branch of [[trainEncoded]] over a [[dictCheckpoint]]:
    * one collect, the driver loop, then the merges as one narrow map
    * over the checkpoint, which stays held under the returned frame.
    */
  private[pipeline] def trainInMemory(dict: DataFrame, k: Int)
      : (Seq[(String, String)], DataFrame) = {
    val merges = trainLocalFromDict(collectDict(dict), k)
    (merges, encodeWords(dict.drop("cs"), merges)
      .withColumnRenamed("syms", "cs"))
  }

  /** The per-merge Spark loop over a [[dictCheckpoint]] of more than
    * [[MaxLocalDict]] words: ONE action per round. The 1-row top-pair
    * collect materializes that round's lazily checkpointed (w, wc, cs)
    * frame, so rounds chain without re-deriving one another, and the
    * round it replaced is released right after. The last merge is
    * returned as a narrow map over the last checkpoint, the only one
    * left held; a failure releases them all. Stops early when no
    * adjacent pair remains.
    */
  private[pipeline] def trainDistributed(dict: DataFrame, k: Int)
      : (Seq[(String, String)], DataFrame) = {
    var cur = dict
    var replaced: Option[DataFrame] = None // held until cur materializes
    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    try {
      while (!done && merges.size < k) {
        val top = cur
          .select(col("wc"), explode(expr(pairsExpr("cs"))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("wc").as("cnt"))
          .orderBy(desc("cnt"), asc("a"), asc("b"))
          .limit(1).collect()
        replaced.foreach(Dedup.unpersistCheckpoint)
        replaced = None
        if (top.isEmpty) done = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          val next = cur.withColumn("cs", expr(splitExpr(
            foldPassExpr("cs", s"'${esc(a)}'", s"'${esc(b)}'"))))
          if (merges.size == k) cur = next
          else {
            replaced = Some(cur)
            cur = next.localCheckpoint(false)
          }
        }
      }
      (merges.toSeq, cur)
    } catch {
      case e: Throwable =>
        (replaced.toSeq :+ cur).foreach(Dedup.unpersistCheckpoint)
        throw e
    }
  }

  /** The exact merge loop over an in-memory (symbols, weight)
    * dictionary — semantics identical to one [[foldPassExpr]] round
    * per merge: count adjacent pairs weighted by word count, take the
    * (cnt desc, a asc, b asc) top pair, apply it left-to-right
    * non-overlapping, repeat. Stops early when no pair remains.
    */
  private[pipeline] def trainLocalFromDict(
      dict0: Array[(Array[String], Long)], k: Int)
      : Seq[(String, String)] = {
    var dict = dict0
    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    for (_ <- 1 to k if !done) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      dict.foreach { case (cs, wc) =>
        var i = 0
        while (i < cs.length - 1) {
          val key = (cs(i), cs(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + wc)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // tie-break in UTF-8 BYTE order (review r18): the distributed
        // trainer ranks via Spark's UTF8String binary comparison;
        // Java String '<' is UTF-16 code-unit order, which ranks
        // supplementary-plane symbols BELOW U+E000..U+FFFF — the two
        // orders diverge on non-ASCII ties, and the scaladoc promises
        // bit-for-bit equal merge tables (latent today: wordDict's
        // tokenizer emits [0-9a-z] only, where the orders coincide)
        implicit val utf8Order: Ordering[String] =
          (x: String, y: String) => {
            val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            var i = 0
            val n = math.min(xb.length, yb.length)
            var r = 0
            while (r == 0 && i < n) {
              r = (xb(i) & 0xff) - (yb(i) & 0xff); i += 1
            }
            if (r != 0) r else xb.length - yb.length
          }
        val ((a, b), _) = counts.minBy { case ((pa, pb), cnt) =>
          (-cnt, pa, pb)
        }
        merges += ((a, b))
        dict = dict.map { case (cs, wc) =>
          (applyMergePass(cs, a, b), wc)
        }
      }
    }
    merges.toSeq
  }

  /** One left-to-right non-overlapping merge pass over a symbol
    * array — the in-memory twin of [[foldPassExpr]], shared by the
    * local trainer and the broadcast encoder so the three
    * implementations of the pass can never drift (merge when the
    * previously EMITTED symbol is exactly `a` and the next is `b`).
    */
  private[pipeline] def applyMergePass(cs: Array[String], a: String,
                                       b: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    cs.foreach { x =>
      if (out.nonEmpty && out.last == a && x == b)
        out(out.length - 1) = a + b
      else out += x
    }
    out.toArray
  }

  /** Measured ceiling of the pure-expression encoder
    * (`probes/bpedepth.log`): each merge nests one split(fold(…)) level
    * into a single Catalyst expression, and the analyzer dies at
    * k = 64 (max-resolution-iterations; ParseException/StackOverflow
    * as k grows) — k = 32 runs, k = 64 does not. Review r14: the old
    * encoder was expression-only, so the module's own
    * tokenizeAndPack(kMerges = 256) DEFAULT could never execute.
    */
  val ExprMergeCeiling: Int = 32

  /** Apply a learned merge table to a word column: adds `syms`, the
    * BPE symbol array. Dispatches on the measured expression ceiling:
    * small tables run as the pure-expression narrow map (codegen'd,
    * SQL-replayable — the px63 oracle shape); larger ones as a
    * broadcast-table encoder ([[applyMergePass]] per merge per word,
    * one task-side loop — Catalyst cannot hold a 32k-rule rewriting
    * system in one expression tree, so this is the mandate's
    * "mapPartitions as a last resort" case, with the per-word cost
    * O(|merges|·len) documented honestly; both forms are
    * equivalence-pinned in BpeSpec).
    */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)],
                  wordCol: String = "w"): DataFrame =
    if (merges.size <= ExprMergeCeiling)
      encodeWordsExpr(words, merges, wordCol)
    else encodeWordsBroadcast(words, merges, wordCol)

  private[graft] def encodeWordsExpr(words: DataFrame,
                                        merges: Seq[(String, String)],
                                        wordCol: String): DataFrame =
    words.withColumn("syms",
      expr(merges.foldLeft(charsExpr(wordCol)) {
        case (arr, (a, b)) =>
          splitExpr(foldPassExpr(arr, s"'${esc(a)}'", s"'${esc(b)}'"))
      }))

  private[graft] def encodeWordsBroadcast(words: DataFrame,
                                             merges: Seq[(String, String)],
                                             wordCol: String): DataFrame = {
    val bc = words.sparkSession.sparkContext.broadcast(merges.toArray)
    val enc = udf { (w: String) =>
      if (w == null) null // NULL word -> NULL syms, the expr-form rule
      else {
        var cs = codePointSyms(w)
        bc.value.foreach { case (a, b) => cs = applyMergePass(cs, a, b) }
        cs
      }
    }
    words.withColumn("syms", enc(col(wordCol)))
  }

  /** Weight column for symbol statistics: the dictionary's word count
    * when the frame carries one, else 1 per row (a raw word list
    * counts each row once).
    */
  private def wcOr1(encoded: DataFrame): Column =
    // case-INsensitive (review r18): Spark resolution is
    // case-insensitive by default, so a frame carrying `WC` resolves
    // as col("wc") everywhere else — a case-sensitive contains() here
    // silently weighted every row 1 instead
    if (encoded.columns.exists(_.equalsIgnoreCase("wc"))) col("wc")
    else lit(1L)

  /** Corpus symbol frequencies under the encoding: top `n`
    * (sym, cnt), weighted by word count when present (frames without
    * a `wc` column count each row once).
    */
  def symbolCounts(encoded: DataFrame, n: Int): DataFrame =
    encoded
      .select(wcOr1(encoded).as("wc"), explode(col("syms")).as("sym"))
      .groupBy("sym").agg(sum("wc").as("cnt"))
      .orderBy(desc("cnt"), asc("sym"))
      .limit(n)

  /** Deterministic vocabulary table over an encoded dictionary:
    * (sym, id, cnt) with CONTIGUOUS ids starting at `firstId`,
    * assigned by (frequency desc, sym) — the frequency-ranked id
    * convention tokenizer exports use, reproducible bit-for-bit
    * across reruns and engines. The id window is a single global
    * sort over the VOCABULARY (symbols ≤ distinct words × chars —
    * tokenizer-export-sized, never corpus-sized); token-id encoding
    * of a corpus is then a broadcast join of this table onto the
    * exploded symbols.
    */
  def vocab(encoded: DataFrame, firstId: Long = 0L): DataFrame =
    encoded
      .select(wcOr1(encoded).as("wc"), explode(col("syms")).as("sym"))
      .groupBy("sym").agg(sum("wc").as("cnt"))
      .withColumn("id", expr(
        s"row_number() OVER (ORDER BY cnt DESC, sym) - 1 + $firstId"))
      .select("sym", "id", "cnt")
}
