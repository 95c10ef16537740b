package graft.ir

import graft.{SparkSpec, Tables}
import graft.sources.Topics
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Materialized index ≡ direct scan: retrieval from the Parquet
  * doc-vector table must produce exactly the ranked lists the raw-text
  * pipeline produces (SURVEY §3.3 HBase-replacement equivalence).
  */
class IndexSpec extends SparkSpec {

  test("index round-trip: scoreFromIndex == scoreFor on raw text") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dv").toString + "/idx"
    val docs = Tables(spark, sfTiny, "documents")
    Index.write(docs, dir)
    val dv = Index.load(spark, dir)

    val q = Retrieval.querySet
      .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet

    val direct = Retrieval.scoreFor(docs, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    val indexed = Index.scoreFromIndex(dv, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    assert(key(direct) == key(indexed))
    assert(key(direct).nonEmpty)
  }

  test("inverted index: scoreFromInverted == scoreFor, term filter pushed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("inv").toString + "/idx"
    val docs = Tables(spark, sfTiny, "documents")
    Index.writeInverted(docs, dir, files = 4)
    // parallel write: range partitioning must yield MULTIPLE part files
    // (no single-task funnel) while keeping global term order across
    // them — file k's max term below file k+1's min term is exactly the
    // property parquet min/max row-group pruning needs.
    val parts = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.length > 1, "expected a parallel multi-file postings write")
    val ranges = parts.map { f =>
      val t = spark.read.parquet(f.getPath).agg(
        min("term"), max("term")).collect()(0)
      (t.getString(0), t.getString(1))
    }.filter(r => r._1 != null)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"files out of global term order: $hi > $lo")
      case _ =>
    }
    val q = Retrieval.querySet
      .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    val direct = Retrieval.scoreFor(docs, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    val inverted = Index.scoreFromInverted(spark, dir, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    assert(key(inverted) == key(direct))
    assert(key(inverted).nonEmpty)
    // the literal term predicate must reach the parquet scan
    val explained = inverted.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(explained.contains("PushedFilters: [In(term"),
      "term IN (...) must appear in PushedFilters")
  }

  test("sharded inverted index: bounded rows, identical scores") {
    import spark.implicits._
    val dir = Files.createTempDirectory("invsh").toString + "/idx"
    val docs = Tables(spark, sfTiny, "documents")
    // maxPostings far below the corpus head df, so head terms MUST
    // split into multiple shard rows
    Index.writeInverted(docs, dir, files = 4, maxPostings = 16)
    val post = spark.read.parquet(s"$dir/postings")
    assert(post.columns.contains("shard"))
    // the pressure-valve property: NO row's array exceeds the bound
    val worst = post.agg(max(size(col("postings")))).collect()(0).getInt(0)
    assert(worst <= 16, s"postings row of $worst exceeds maxPostings")
    // head terms really did shard (df > 16 somewhere in the corpus)
    assert(post.groupBy("term").count().agg(max("count"))
      .collect()(0).getLong(0) > 1, "expected at least one sharded term")
    // shards of one term agree on term-level df/cf and partition the
    // postings: df == total collected entries per term
    val agree = post.groupBy("term")
      .agg(countDistinct("df").as("ndf"), countDistinct("cf").as("ncf"),
        sum(size(col("postings"))).as("n"), first("df").as("df"))
    assert(agree.filter(col("ndf") =!= 1 || col("ncf") =!= 1).count() == 0)
    assert(agree.filter(col("n") =!= col("df")).count() == 0)
    // and retrieval over the sharded layout is bit-identical to the
    // raw-corpus scorer (scoreFromInverted reads both layouts)
    val q = Retrieval.querySet
      .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    val direct = Retrieval.scoreFor(docs, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    val sharded = Index.scoreFromInverted(spark, dir, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    assert(key(sharded) == key(direct) && key(sharded).nonEmpty)
  }

  test("writeInverted's postings == postingsFrame's sharded rows, " +
    "with or without the one-shard shortcut") {
    val docs = Tables(spark, sfTiny, "documents")
    val tf = TextOps.termFreqs(docs).cache()
    try {
      val nDocs = tf.select("doc_id").distinct().count().toInt
      def rows(df: DataFrame): Seq[String] =
        df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
          .collect().map(_.getString(0)).toSeq.sorted
      // parquet reads every nested field back as nullable
      def schema(df: DataFrame) =
        df.schema.map(f => (f.name, f.dataType.simpleString))
      // DefaultMaxPostings and n_docs take the shortcut (no term can
      // fill a second shard); n_docs - 1 runs the slice ranking
      for (mp <- Seq(Index.DefaultMaxPostings, nDocs, nDocs - 1)) {
        val dir = Files.createTempDirectory("invpar").toString + "/idx"
        Index.writeInverted(docs, dir, maxPostings = mp)
        val written = spark.read.parquet(s"$dir/postings")
        val expected = Index.postingsFrame(tf, mp)
        assert(schema(written) == schema(expected), s"maxPostings = $mp")
        assert(rows(written) == rows(expected), s"maxPostings = $mp")
      }
    } finally { tf.unpersist(); () }
  }

  test("postings write runs no window when no term can fill a second shard") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val docs = Tables(spark, sfTiny, "documents")
    val nDocs = TextOps.termFreqs(docs).select("doc_id").distinct().count().toInt
    // through AQE's final plan, its query stages and the plans of the
    // persisted frames the write reads
    def windows(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case s: QueryStageExec => windows(s.plan)
      case r: ReusedExchangeExec => windows(r.child)
      case m: InMemoryTableScanExec => windows(m.relation.cachedPlan)
      case w: WindowExec => 1 + windows(w.child)
      case other => other.children.map(windows).sum
    }
    def windowsRun(maxPostings: Int): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
          n.addAndGet(windows(qe.executedPlan)); ()
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val dir = Files.createTempDirectory("invwin").toString + "/idx"
      org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      spark.listenerManager.register(l)
      try {
        Index.writeInverted(docs, dir, maxPostings = maxPostings)
        org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(l)
      n.get
    }
    assert(windowsRun(nDocs) == 0)
    // the probe sees the slice ranking's windows when they do run
    assert(windowsRun(nDocs - 1) > 0)
  }

  test("writeInverted refuses a negative maxPostings") {
    val dir = Files.createTempDirectory("invneg").toString + "/idx"
    val e = intercept[IllegalArgumentException](
      Index.writeInverted(Tables(spark, sfTiny, "documents"), dir,
        maxPostings = -1))
    assert(e.getMessage.contains("maxPostings"))
    assert(!new java.io.File(dir).exists(), "nothing may be written")
  }

  test("index term stats match direct stats") {
    val dir = Files.createTempDirectory("dv2").toString + "/idx"
    val docs = Tables(spark, sfTiny, "documents")
    Index.write(docs, dir)
    val fromIdx = Index.termStats(Index.load(spark, dir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = graft.text.TextOps.termFreqs(docs)
      .groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIdx == direct)
  }

  test("augmented topic file round-trips (QueryTermCount format)") {
    import spark.implicits._
    val path = Files.createTempDirectory("topics").toString + "/aug"
    val stats = Seq(
      ("51", "horse", 1L, 123L, 456L), ("51", "hooves", 1L, 12L, 34L),
      ("52", "avp", 2L, 5L, 9L))
      .toDF("qid", "term", "qtf", "df", "cf")
    Topics.writeAugmented(stats, 1000000L, 5000L, path)
    val ((len, nd), rows) = Topics.readAugmented(spark, path)
    assert(len == 1000000L && nd == 5000L)
    val back = rows.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(back == Set(("51", "horse", 1L, 123L, 456L),
      ("51", "hooves", 1L, 12L, 34L), ("52", "avp", 2L, 5L, 9L)))
  }

  test("weighted topic file parses (RunQueryHBase format)") {
    val path = Files.createTempDirectory("topics2").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "w.topics"),
      "51,5:5:0.1\tairbus:0.4079 subsidy:0.2744\n52,5:5:0.1\tx:1.0\n")
    val rows = Topics.readWeighted(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set(("51,5:5:0.1", "airbus", 0.4079),
      ("51,5:5:0.1", "subsidy", 0.2744), ("52,5:5:0.1", "x", 1.0)))
  }

  test("keyval reader splits TREC-ID / URL / text") {
    val path = Files.createTempDirectory("kv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "kv.tsv"),
      "test1\thttp://a.com\tanchor one\tanchor two\n")
    val r = Topics.readKeyval(spark, path).head()
    assert(r.getString(0) == "test1")
    assert(r.getString(1) == "http://a.com")
    assert(r.getString(2) == "anchor one\tanchor two")
  }
}
