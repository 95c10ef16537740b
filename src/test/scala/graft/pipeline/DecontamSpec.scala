package graft.pipeline

import graft.SparkSpec
import graft.functions.DetHash
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** TextMetrics.scrubContaminated (the px62 library op): hand-computed
  * span removal, overlap union, full-scrub and short-doc edges.
  */
class DecontamSpec extends SparkSpec {

  private def benchOf(docs: DataFrame): DataFrame =
    TextOps.shingleRows(docs, 5)
      .select(DetHash.h60(col("s")).as("sh")).distinct()

  private def scrubMap(docs: DataFrame, bench: DataFrame) =
    TextMetrics.scrubContaminated(docs, bench).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("mid-doc benchmark 5-gram: covered span removed, rest stitched") {
    import spark.implicits._
    val bench = benchOf(
      Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"))
    val out = scrubMap(Seq(
      (1L, "one two alpha beta gamma delta epsilon three"),
      (2L, "Hello, World!"),          // no match; normalized stitch
      (3L, "alpha beta gamma delta epsilon"), // fully scrubbed
      (4L, "alpha beta gamma"))       // < 5 tokens: no shingle, kept
      .toDF("doc_id", "text"), bench)
    assert(out(1L) === (("one two three", 3L, 5L)))
    assert(out(2L) === (("hello world", 2L, 0L)))
    assert(out(3L) === (("", 0L, 5L)))
    assert(out(4L) === (("alpha beta gamma", 3L, 0L)))
  }

  test("repeated and overlapping matches: covered positions union, once") {
    import spark.implicits._
    val bench = benchOf(Seq(
      (0L, "a b c d e"),
      (1L, "c d e f g")).toDF("doc_id", "text"))
    val out = scrubMap(Seq(
      // the same benchmark gram twice with a survivor between
      (10L, "a b c d e x a b c d e"),
      // two DIFFERENT grams overlapping on c d e: union covers 1..7
      (11L, "a b c d e f g h")).toDF("doc_id", "text"), bench)
    assert(out(10L) === (("x", 1L, 10L)))
    assert(out(11L) === (("h", 1L, 7L)))
  }

  test("null and empty text come out as ('', 0, 0) — no NULL counters") {
    import spark.implicits._
    val bench = benchOf(
      Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"))
    val edge = Seq(
      (20L, null.asInstanceOf[String]),
      (21L, ""),
      (22L, "   \t ")).toDF("doc_id", "text")
    val out = scrubMap(edge, bench)
    assert(out(20L) === (("", 0L, 0L)))
    assert(out(21L) === (("", 0L, 0L)))
    assert(out(22L) === (("", 0L, 0L)))
    // the shared k-gram helpers emit no hash row for these docs, nor
    // for a doc shorter than k
    val short = edge.union(Seq((23L, "alpha beta gamma delta"))
      .toDF("doc_id", "text"))
    val tk = TextOps.tokArrays(short)
    assert(TextOps.shingleHashes(short, 5).isEmpty)
    assert(TextOps.positionalShingleHashes(tk, 5).isEmpty)
    assert(TextMetrics.benchHashes(short).isEmpty)
    assert(TextMetrics.contaminatedDocs(short,
      Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"))
      .isEmpty)
    // positions are 1-based shingle starts
    val pos = TextOps.positionalShingleHashes(TextOps.tokArrays(
      Seq((1L, "Alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text")), 5).select("pos", "sh").as[(Int, Long)].collect().toSet
    val h = (s: String) => Seq(s).toDF("s")
      .select(DetHash.h60(col("s"))).as[Long].head()
    assert(pos == Set(1 -> h("alpha beta gamma delta epsilon"),
      2 -> h("beta gamma delta epsilon zeta")))
  }

  test("scrubDupSpans: min-(doc, pos) keeper survives, every later occurrence excised") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e x y z w v"),             // keeper of "a b c d e"
      (2L, "q r s t u a b c d e"),             // cross-doc repeat -> cut
      (3L, "m n o p q"),                       // unique -> untouched
      (4L, "k l m n o f g h i j k l m n o"))   // WITHIN-doc repeat -> cut
      .toDF("doc_id", "text")
    val m = Dedup.scrubDupSpans(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m(1L) === (("a b c d e x y z w v", 10L, 0L)))
    assert(m(2L) === (("q r s t u", 5L, 5L)))
    assert(m(3L) === (("m n o p q", 5L, 0L)))
    assert(m(4L) === (("k l m n o f g h i j", 10L, 5L)))
  }

  test("minLen variant: long copied block excised, isolated dup 5-gram survives") {
    import spark.implicits._
    // a 20-token block B shared by docs 1 and 2; a single shared
    // 5-gram between docs 3 and 4
    val block = (1 to 20).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $block"),       // B at 4..23 (keeper)
      (2L, s"$block delta epsilon zeta"),     // B at 1..20 -> excised
      (3L, "p1 p2 p3 p4 p5 unique tail words follow now"), // keeper
      (4L, "other start p1 p2 p3 p4 p5 closing words here"))
      .toDF("doc_id", "text")

    // detection reports ALL long-run occurrences, keeper included
    val spans = Dedup.dupRunSpans(docs, 5, 15).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans == Set((1L, 4L, 23L, 20L), (2L, 1L, 20L, 20L)), spans)

    // removal: only the non-first LONG run goes; the isolated dup
    // 5-gram in doc 4 (island of 5 < 15) survives...
    val m = Dedup.scrubDupSpans(docs, 5, 15).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m(1L)._3 == 0L && m(1L)._2 == 23L)
    assert(m(2L) === (("delta epsilon zeta", 3L, 20L)))
    assert(m(3L)._3 == 0L)
    assert(m(4L) === (("other start p1 p2 p3 p4 p5 closing words here",
      10L, 0L)))
    // ...whereas the minLen=1 base removes it
    val base = Dedup.scrubDupSpans(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(base(4L) == 5L, s"base variant must cut the short dup: $base")
  }

  test("dupRemovalSpans IS the removal statistic; dupRunSpans diverges by design") {
    import spark.implicits._
    // Keeper exemption: doc 0 is the min-(doc, pos) keeper of both
    // duplicated 5-grams (w1..w5 at 1, w3..w7 at 3); doc 2 carries
    // the copies, split by x9 at position 6.
    val docs = Seq(
      (0L, "w1 w2 w3 w4 w5 w6 w7"),
      (2L, "w1 w2 w3 w4 w5 x9 w3 w4 w5 w6 w7")
    ).toDF("doc_id", "text")
    // doc 2's covers 1..5 and 7..11 don't touch: nothing >= 8 to cut
    val rem = Dedup.dupRemovalSpans(docs, 5, 8).collect()
    assert(!rem.exists(_.getLong(0) == 2L), rem.mkString(","))
    // at minLen 5 detection reports the KEEPER doc's runs, the
    // removal statistic never does — the keeper is exempt from cuts
    val det5 = Dedup.dupRunSpans(docs, 5, 5).collect().map(_.getLong(0)).toSet
    val rem5 = Dedup.dupRemovalSpans(docs, 5, 5).collect().map(_.getLong(0)).toSet
    assert(det5.contains(0L) && !rem5.contains(0L), s"$det5 / $rem5")

    // Cover merge: doc 7 carries doc 6's two 5-gram blocks
    // back-to-back, so its covers 1..5 and 6..10 fuse into one
    // 10-token island — the removal cuts it at minLen 8 though each
    // duplicated run alone spans 5; the bridge grams (a2..b1 etc.)
    // exist only in doc 7, so detection sees two short runs and
    // reports nothing.
    val docs2 = Seq(
      (6L, "a1 a2 a3 a4 a5 ZZ b1 b2 b3 b4 b5"),
      (7L, "a1 a2 a3 a4 a5 b1 b2 b3 b4 b5")
    ).toDF("doc_id", "text")
    val rem2 = Dedup.dupRemovalSpans(docs2, 5, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(rem2 == Set((7L, 1L, 10L, 10L)), rem2)
    assert(Dedup.dupRunSpans(docs2, 5, 8).isEmpty)
    // and the removal statistic is EXACTLY what the scrub excises
    val scrub = Dedup.scrubDupSpans(docs2, 5, 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(scrub(7L) == (("", 10L)), scrub)   // the whole doc was the island
    assert(scrub(6L)._2 == 0L)                // keeper untouched
  }
}
