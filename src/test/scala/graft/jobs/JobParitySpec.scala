package graft.jobs

import graft.{SparkEntry, SparkSpec}
import graft.ir.Retrieval
import graft.sources.Topics
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, round}

/** Each statistics and feedback CLI job writes exactly the rows of the
  * oracle-gated ir query that shares its dataflow, on the sf0.001
  * corpus: the DuckDB gate checks the ir queries, and these parities
  * carry that check over to the jobs.
  */
class JobParitySpec extends SparkSpec {

  lazy val work: String = Files.createTempDirectory("jobparity").toString
  lazy val docs: String = s"parquet:$sfTiny/documents.parquet"

  /** [[Retrieval.querySet]] as a plain `qid:term term …` topics file. */
  lazy val topics: String = {
    val p = Paths.get(work, "topics")
    Files.writeString(p, Retrieval.querySet
      .map { case (qid, ts) => s"$qid:${ts.mkString(" ")}" }.mkString("\n"))
    p.toString
  }

  private def lines(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSeq

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfTiny)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("CollectionStats: term lines == ir03, header == ir04") {
    Jobs.collectionStats(spark, docs, s"$work/cs")
    val (header, body) = lines(s"$work/cs").partition(_.startsWith("#"))
    val h = query("ir04_collection_stats").head()
    assert(header.toSet == Set(s"#DOCS:${h.getLong(0)}",
      s"#TERMS:${h.getLong(1)}", s"#TOKENS:${h.getLong(2)}"))
    val ir03 = query("ir03_term_stats").collect()
      .map(r => s"${r.getString(0)}\t${r.getLong(1)},${r.getLong(2)}")
    assert(body.nonEmpty && body.sorted == ir03.toSeq.sorted)
  }

  test("MutualInfo: pair lines == ir09") {
    Jobs.mutualInfo(spark, docs, s"$work/mi")
    val ir09 = query("ir09_cooccur").collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}")
    val got = lines(s"$work/mi")
    assert(got.nonEmpty && got.sorted == ir09.toSeq.sorted)
  }

  test("QueryStats: pair lines == ir21") {
    Jobs.queryStats(spark, docs, s"$work/qs", topics)
    val ir21 = query("ir21_querystats").collect().map(r =>
      s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}\t${r.getLong(3)}")
    val got = lines(s"$work/qs")
    assert(got.nonEmpty && got.sorted == ir21.toSeq.sorted)
  }

  test("GenerateFeedbackQueries: term weights rounded to 6 dp == ir19") {
    Jobs.generateFeedbackQueries(spark, docs, s"$work/fb", topics)
    val got = Topics.readWeighted(spark, s"$work/fb")
      .select(col("qid"), col("term"), round(col("w"), 6))
    val ir19 = rows(query("ir19_rm3"))
    assert(ir19.nonEmpty && rows(got) == ir19)
  }

  test("QueryTermCount -> TrecRunBaselines: top-5 per qid:model == ir26") {
    Jobs.queryTermCount(spark, docs, s"$work/aug.topics", topics)
    Jobs.trecRunBaselines(spark, docs, s"$work/baselines", s"$work/aug.topics")
    // run line: qid:model Q0 doc_id rank score tag
    val got = lines(s"$work/baselines").map(_.split(" ")).collect {
      case Array(qm, _, doc, rank, score, _) if rank.toInt <= 5 =>
        val Array(qid, model) = qm.split(":")
        Seq(qid, doc.toLong, score.toDouble, rank.toInt, model)
    }.toSet
    val ir26 = rows(query("ir26_baselines_grid"))
    assert(ir26.nonEmpty && got == ir26)
  }
}
