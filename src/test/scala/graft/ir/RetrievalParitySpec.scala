package graft.ir

import graft.{SparkSpec, Tables}
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Every retrieval path ranks exactly like the sequential scan, for a
  * conjunctive model, the smoothed LMs, BM25 and a weighted query:
  * `scoreFor` ≡ `scoreFromIndex` ≡ `scoreFromInverted` (compact and
  * sharded layouts) ≡ `scoreWithStats` with stats from the same corpus;
  * and the multi-model scorer's rows for each model ≡ that model
  * scored alone.
  */
class RetrievalParitySpec extends SparkSpec {
  import Retrieval._

  private lazy val docs = Tables(spark, sfTiny, "documents")

  private def key(df: DataFrame): Set[(String, Long, Double, Int)] =
    df.select("qid", "doc_id", "score", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  private lazy val plainQ = queryFrame(spark)
  private lazy val weightedQ = {
    import spark.implicits._
    weightedQuerySet
      .flatMap { case (qid, ts) => ts.map { case (t, w) => (qid, t, w) } }
      .toDF("qid", "term", "w")
  }

  private val baselines: Seq[Model] = Seq(
    ("LMno", lmnoPart, lmnoFinal, true),
    ("LMs", lmjmPart(), lmjmFinal, false),
    ("LMdi", lmdirPart, lmdirFinal, false),
    ("BM25", bm25Part, bm25Final, false))

  private lazy val cases: Seq[(Model, DataFrame)] =
    baselines.map(_ -> plainQ) :+
      (("wLMdi", s"w * ($lmdirPart)", lmdirFinal, false) -> weightedQ)

  test("scan ≡ doc-vector ≡ inverted (compact, sharded) ≡ provided stats") {
    val work = Files.createTempDirectory("parity").toString
    Index.write(docs, s"$work/dv")
    Index.writeInverted(docs, s"$work/inv", maxPostings = 0)
    Index.writeInverted(docs, s"$work/invsh", maxPostings = 16)
    val dv = Index.load(spark, s"$work/dv")
    val tf = TextOps.termFreqs(docs)
    val tstats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
    val Array(len, nd) = tf.agg(sum("tf"), countDistinct("doc_id")).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val k = Int.MaxValue
    for (((name, part, fin, conj), q) <- cases) {
      // the QueryTermCount shape: a term absent from the corpus keeps
      // its row (df = cf = 0), so qlen counts it as the scan does
      val qAug = q.join(tstats, Seq("term"), "left")
        .na.fill(0L, Seq("df", "cf"))
      val scan = key(scoreFor(docs, q, part, fin, conj, k))
      assert(scan.nonEmpty, name)
      assert(key(Index.scoreFromIndex(dv, q, part, fin, conj, k)) == scan,
        s"$name: doc-vector index")
      assert(key(Index.scoreFromInverted(spark, s"$work/inv", q, part, fin,
        conj, k)) == scan, s"$name: compact inverted index")
      assert(key(Index.scoreFromInverted(spark, s"$work/invsh", q, part,
        fin, conj, k)) == scan, s"$name: sharded inverted index")
      assert(key(scoreWithStats(docs, qAug, len, nd, part, fin, conj, k)) ==
        scan, s"$name: provided stats")
    }
    // the conjunctive case is not vacuous: the gate drops some doc
    val lmno = scoreFor(docs, plainQ, lmnoPart, lmnoFinal, conjunctive = true, k)
    val ungated = scoreFor(docs, plainQ, lmnoPart, lmnoFinal, conjunctive = false, k)
    assert(lmno.count() < ungated.count(), "the LMno gate drops no doc")
  }

  test("multi-model scorer rows per model == the model scored alone") {
    val matched = matchedTermsFromTf(TextOps.termFreqs(docs), plainQ)
    val grid = scoreModels(matched, baselines, 10)
    assert(grid.columns.toSeq == Seq("qid", "doc_id", "score", "rank", "model"))
    for ((name, part, fin, conj) <- baselines) {
      val alone = key(scoreMatched(matched, part, fin, conj, 10))
      assert(alone.nonEmpty, name)
      assert(key(grid.filter(col("model") === name)) == alone, name)
    }
  }
}
