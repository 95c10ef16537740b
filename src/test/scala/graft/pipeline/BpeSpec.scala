package graft.pipeline

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE train/encode semantics: iterative merge learning (recount per
  * round, so merges compose), greedy left-to-right application, tie
  * ordering, early stop, weighting.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("train recounts per round: merges compose into multi-char symbols") {
    // wc: "aaab"×2, "ab"×1.
    //  r1 pairs: (a,a)=4, (a,b)=3       -> merge (a,a)
    //  r2 pairs: (a,b)=3, (aa,a)=2      -> merge (a,b)
    //  r3 pairs: (aa,ab)=2              -> merge (aa,ab)  [composes]
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, 3)
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))

    val enc = Bpe.encodeWords(Bpe.wordDict(docs), merges)
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(enc("aaab") == Seq("aaab"))
    assert(enc("ab") == Seq("ab"))
  }

  test("merge application is single-pass greedy left-to-right") {
    val words = Seq(("aaa", 1L), ("aaaa", 1L), ("baaab", 1L))
      .toDF("w", "wc")
    val enc = Bpe.encodeWords(words, Seq(("a", "a")))
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(enc("aaa") == Seq("aa", "a"))
    assert(enc("aaaa") == Seq("aa", "aa"))
    assert(enc("baaab") == Seq("b", "aa", "a", "b"))
  }

  test("pair-count ties break lexicographically on (a, b)") {
    // "ba" and "ab" each once: (a,b) and (b,a) both cnt 1 -> (a,b) wins.
    val docs = Seq((1L, "ba ab")).toDF("doc_id", "text")
    assert(Bpe.train(docs, 1) == Seq(("a", "b")))
  }

  test("train stops early when no adjacent pairs remain") {
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    assert(Bpe.train(docs, 5).isEmpty)
  }

  test("degenerate dictionaries: empty corpus, and minCount filtering all") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Bpe.train(empty, 3).isEmpty)
    val hapax = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    assert(Bpe.train(hapax, 3, "text", minCount = 2L).isEmpty)
    // encode still behaves on an empty dict
    assert(Bpe.encodeWords(Bpe.wordDict(empty), Seq(("a", "b")))
      .count() == 0)
  }

  /** One branch of trainEncoded over a (w, wc) word frame: its merges
    * and its final encoded dictionary as w -> cs.
    */
  private def branch(train: (DataFrame, Int) => (Seq[(String, String)], DataFrame),
                     words: DataFrame, k: Int)
      : (Seq[(String, String)], Map[String, Seq[String]]) = {
    val (merges, enc) = train(Bpe.dictCheckpoint(words), k)
    try (merges, enc.select("w", "cs").as[(String, Seq[String])].collect().toMap)
    finally Dedup.unpersistCheckpoint(enc)
  }

  private def sameBranches(words: DataFrame, k: Int, what: String): Int = {
    val local = branch(Bpe.trainInMemory, words, k)
    val dist = branch(Bpe.trainDistributed, words, k)
    assert(local == dist, s"k=$k $what")
    local._1.size
  }

  /** Tiny-SF documents: a corpus with well over 50 learnable merges. */
  private def tinyDocs: DataFrame =
    graft.Tables(spark, sfTiny, "documents").limit(120).select("doc_id", "text")

  test("trainLocal == the distributed loop, merge-for-merge") {
    // the in-memory loop must emit the identical merge table (same pair
    // counts, same (cnt desc, a, b) tie-break, same greedy left-to-right
    // apply) across composing merges, ties, early stop and minCount, and
    // its one-map encoding must give every word the per-merge loop's cs
    val fixtures = Seq(
      Seq((1L, "aaab aaab ab")),                     // composing merges
      Seq((1L, "ba ab")),                            // tie-break
      Seq((1L, "a b c a")),                          // early stop
      Seq((1L, "the cat sat on the mat the cat ran"),
        (2L, "a cat and a rat sat"),
        (3L, "then the bat sat on that mat")))       // realistic mix
    for (rows <- fixtures; k <- Seq(3, 8, 50))
      sameBranches(Bpe.wordDict(rows.toDF("doc_id", "text")), k, s"rows=$rows")
    val hapax = Seq((1L, "zq zq ab")).toDF("doc_id", "text")
    sameBranches(Bpe.wordDict(hapax, "text", 2L), 4, "minCount=2")
    assert(Bpe.trainLocal(hapax, 4, minCount = 2L) ==
      branch(Bpe.trainDistributed, Bpe.wordDict(hapax, "text", 2L), 4)._1)
    // past the expression ceiling the in-memory branch encodes with the
    // broadcast encoder, the per-merge loop still with fold expressions
    assert(sameBranches(Bpe.wordDict(tinyDocs), 40, "tiny docs") == 40)
    // non-BMP symbols (the tokenizer strips them, so a word frame):
    // both the tie-break order and the code-point split must agree
    val emoji = new String(Character.toChars(0x1F600))
    val cjk = new String(Character.toChars(0x20BB7))
    val rnd = new scala.util.Random(7)
    val alphabet = Seq("a", "b", "\u00e9", "\uffe0", emoji, cjk)
    val words = Seq.fill(60)(Seq.fill(2 + rnd.nextInt(7))(
      alphabet(rnd.nextInt(alphabet.size))).mkString)
      .distinct.map(w => (w, 1L + rnd.nextInt(4))).toDF("w", "wc")
    assert(sameBranches(words, 40, "non-BMP words") == 40)
    assert(sameBranches(words, 8, "non-BMP words") == 8)
    // the maxDict guard refuses un-collectable dictionaries loudly
    val e = intercept[IllegalArgumentException] {
      Bpe.trainLocal(hapax, 2, maxDict = 1)
    }
    assert(e.getMessage.contains("minCount"))
  }

  test("trainEncoded runs the same Spark jobs for k = 8 and k = 50") {
    val sc = spark.sparkContext
    val docs = tinyDocs.cache()
    docs.count()
    def jobs(k: Int): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      org.apache.spark.graft.Listeners.drain(sc)
      sc.addSparkListener(l)
      try {
        val (merges, enc) = Bpe.trainEncoded(docs, k)
        assert(merges.size == k)
        enc.count()
        Dedup.unpersistCheckpoint(enc)
        org.apache.spark.graft.Listeners.drain(sc)
      } finally sc.removeSparkListener(l)
      n.get
    }
    val (j8, j50) = try (jobs(8), jobs(50)) finally { docs.unpersist(); () }
    assert(j8 == j50, s"k=8: $j8 jobs, k=50: $j50 jobs")
    assert(j8 <= 6, s"$j8 jobs: training no longer runs in one pass")
  }

  test("trainDistributed holds only the returned frame's checkpoint, " +
    "and none after a failure") {
    val sc = spark.sparkContext
    val words = Bpe.wordDict(tinyDocs).cache()
    try {
      words.count()
      org.apache.spark.graft.Listeners.drain(sc)
      // only RDDs the calls persist: the ContextCleaner may release RDDs
      // that earlier tests left persisted at any GC
      val before = sc.getPersistentRDDs.keySet
      def held: Int = sc.getPersistentRDDs.keys.count(k => !before(k))
      // k rounds, and an early stop (a 2-word dict runs out of pairs)
      for ((w, k) <- Seq((words, 12), (words.limit(2), 30))) {
        val (_, enc) = Bpe.trainDistributed(Bpe.dictCheckpoint(w), k)
        assert(held == 1, s"k=$k: $held checkpoints held")
        assert(enc.count() == w.count()) // the held checkpoint serves it
        Dedup.unpersistCheckpoint(enc)
        assert(held == 0)
      }
      // once a round has replaced the dictionary (two checkpoints held),
      // cancel every job: the call fails inside a round's collect
      @volatile var heldAtFailure = -1
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          if (heldAtFailure < 0 && held >= 2) heldAtFailure = held
          if (heldAtFailure >= 0) sc.cancelJob(e.jobId)
        }
      }
      sc.addSparkListener(l)
      try intercept[Exception](
        Bpe.trainDistributed(Bpe.dictCheckpoint(words), 40))
      finally sc.removeSparkListener(l)
      assert(heldAtFailure >= 2,
        s"the failure hit before a round checkpoint existed ($heldAtFailure)")
      assert(held == 0, "a failed trainDistributed leaked checkpoints")
    } finally { words.unpersist(); () }
  }

  test("minCount drops tail words from the dict before the rounds") {
    // "zq" is a hapax; with minCount=2 it can't vote (z,q) into the
    // merge table, and the dict shrinks to the repeated word only
    val docs = Seq((1L, "ab ab zq")).toDF("doc_id", "text")
    assert(Bpe.wordDict(docs, "text", 2L).as[(String, Long)]
      .collect().toSeq == Seq(("ab", 2L)))
    assert(Bpe.train(docs, 2, "text", 2L) == Seq(("a", "b")))
    // full dict still sees both pairs
    assert(Bpe.train(docs, 2).toSet == Set(("a", "b"), ("z", "q")))
  }

  test("symbolCounts weights by word count and orders (cnt desc, sym)") {
    val docs = Seq((1L, "ab ab ab cd")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, 1) // (a,b) cnt 3 beats (c,d) cnt 1
    assert(merges == Seq(("a", "b")))
    val top = Bpe.symbolCounts(
      Bpe.encodeWords(Bpe.wordDict(docs), merges), 10)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("ab", 3L), ("c", 1L), ("d", 1L)))
  }

  // Deterministic Gen pattern (same as TokenizerDivergenceSpec): fuzz
  // random corpora through the full train→encode loop and assert the
  // invariant every consumer relies on — encoding is a PARTITION of
  // the word (symbols concatenate back to it, none empty), for any
  // learned merge table.
  test("property: encode losslessly partitions every word under trained merges") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', '0')))
      .map(_.mkString)
    val corpus = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, word))
    val samples = (0 until 25)
      .flatMap(i => corpus(Gen.Parameters.default, Seed(i.toLong)))
    samples.foreach { words =>
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val merges = Bpe.train(docs, 4)
      val enc = Bpe.encodeWords(Bpe.wordDict(docs), merges)
        .select("w", "syms").as[(String, Seq[String])].collect()
      enc.foreach { case (w, syms) =>
        assert(syms.mkString == w, s"lossy encode of '$w': $syms " +
          s"under merges $merges (corpus $words)")
        assert(syms.forall(_.nonEmpty), s"empty symbol for '$w'")
      }
    }
  }

  test("vocab assigns contiguous frequency-ranked ids deterministically") {
    val docs = Seq((1L, "ab ab ab cd cd zz")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, 1) // learns (a,b)
    val enc = Bpe.encodeWords(Bpe.wordDict(docs), merges)
    val v = Bpe.vocab(enc).as[(String, Long, Long)].collect()
      .sortBy(_._2)
    // freq-ranked: ab(3) first, then c/d/z (1 or 2 each, sym-tiebreak)
    assert(v.head == ("ab", 0L, 3L))
    assert(v.map(_._2).toSeq == (0L until v.length).toSeq) // contiguous
    val v2 = Bpe.vocab(enc).as[(String, Long, Long)].collect().sortBy(_._2)
    assert(v.sameElements(v2)) // reproducible
    assert(Bpe.vocab(enc, firstId = 10L).as[(String, Long, Long)]
      .collect().map(_._2).min == 10L)
  }

  test("expr encoder survives quote/backslash merge symbols (r16 esc)") {
    // external merge tables are a supported encodeWords input (the
    // non-BMP test pins that) — a symbol containing a backslash used
    // to parse as a string-literal escape in the baked expression
    // ('a\b' -> backspace), silently diverging the expr arm from the
    // broadcast arm on the same input
    val words = Seq(("a\\b'c", 1L)).toDF("w", "wc")
    val merges = Seq(("a", "\\"), ("a\\", "b"), ("a\\b", "'"))
    val e = Bpe.encodeWordsExpr(words, merges, "w")
      .select("syms").as[Seq[String]].head()
    val b = Bpe.encodeWordsBroadcast(words, merges, "w")
      .select("syms").as[Seq[String]].head()
    assert(e == b, s"expr $e vs broadcast $b")
    assert(e == Seq("a\\b'", "c"), e.toString)
  }

  test("encode is a narrow map: no shuffle in the encode plan") {
    val words = Seq(("abc", 1L)).toDF("w", "wc")
    val plan = Bpe.encodeWords(words, Seq(("a", "b"), ("ab", "c")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("encodeWords past the expression ceiling: broadcast form, " +
    "bit-equal to the expr form in the shared range") {
    // review r14: the expression encoder nests one level per merge and
    // Spark's analyzer dies at k = 64 (probes/bpedepth.log) — the old
    // expression-only encoder made tokenizeAndPack's own kMerges = 256
    // default unrunnable. encodeWords now dispatches at the measured
    // ceiling; the two forms must agree wherever both run.
    val docs = graft.Tables(spark, sfTiny, "documents")
      .limit(120).select("doc_id", "text")
    val words = Bpe.wordDict(docs)
    val merges = Bpe.trainLocal(docs, Bpe.ExprMergeCeiling)
    assert(merges.size == Bpe.ExprMergeCeiling, s"${merges.size} merges")
    val e = Bpe.encodeWordsExpr(words, merges, "w")
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    val b = Bpe.encodeWordsBroadcast(words, merges, "w")
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(e == b, "expr and broadcast encoders diverged")
    // and the dispatcher really crosses the ceiling: a 64-merge table
    // (which kills the expression form) encodes fine
    val merges64 = Bpe.trainLocal(docs, 64)
    assert(merges64.size == 64)
    val enc64 = Bpe.encodeWords(words, merges64)
    assert(enc64.filter(org.apache.spark.sql.functions.col("syms").isNull)
      .count() == 0)
    assert(enc64.count() == words.count())
    // prefix-consistency: the first 32 merges of the 64-table encode
    // identically through either form (merges apply in table order)
    val b32of64 = Bpe.encodeWordsBroadcast(words, merges64.take(32), "w")
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    val e32of64 = Bpe.encodeWordsExpr(words, merges64.take(32), "w")
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(b32of64 == e32of64)
  }

  test("non-BMP input: expr and broadcast encoders agree, symbols are " +
    "whole code points (advice r14: JDK split(\"\") yields lone " +
    "surrogates on supplementary chars — the fixture corpus never " +
    "exercised this)") {
    // U+1F600 emoji + U+20BB7 (CJK ext B) — both outside the BMP
    val emoji = new String(Character.toChars(0x1F600))
    val cjk = new String(Character.toChars(0x20BB7))
    val words = Seq((s"a${emoji}b", 2L), (s"$cjk$cjk", 1L), ("plain", 1L))
      .toDF("w", "wc")
    val merges = Seq(("a", emoji), (cjk, cjk))
    val e = Bpe.encodeWordsExpr(words, merges, "w")
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    val b = Bpe.encodeWordsBroadcast(words, merges, "w")
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(e == b, s"expr=$e broadcast=$b")
    // symbols must be whole code points, never lone surrogates or
    // replacement chars — a lone surrogate can't round-trip UTF-8.
    // codePoints() yields a SURROGATE-RANGE code point exactly for a
    // lone surrogate (a proper pair becomes its supplementary cp), so
    // this catches one embedded anywhere in a symbol (review r15: the
    // earlier isValidCodePoint form was vacuous — surrogate values ARE
    // valid code points — and its isSurrogate clause only fired on
    // length-1 symbols)
    val all = e.values.flatten ++ b.values.flatten
    assert(all.forall(s => !s.contains('�') &&
      s.codePoints().toArray.forall(cp => cp < 0xD800 || cp > 0xDFFF)),
      all)
    assert(e(s"a${emoji}b") == Seq(s"a$emoji", "b"))
    assert(e(s"$cjk$cjk") == Seq(s"$cjk$cjk"))
    // and the trainer-side splitter sees the same alphabet (wordDict's
    // tokenizer strips non-ASCII, so this is the direct unit pin):
    // merging the two halves of a surrogate pair is never learnable
    assert(Bpe.codePointSyms(s"a${emoji}b").toSeq == Seq("a", emoji, "b"))
    assert(Bpe.codePointSyms(s"$cjk$cjk").toSeq == Seq(cjk, cjk))
    assert(Bpe.codePointSyms("").isEmpty)
  }
}
