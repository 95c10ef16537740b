package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.ir.{Index, Retrieval}
import graft.jobs.Jobs
import graft.tools.PhaseListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Workloads {
  /** Row count and an order-independent hash of the full output: the
    * sum, as an exact decimal, of xxhash64 over each row's JSON form.
    */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** The closed-loop workloads. Each runs a warm-up, then timed rounds
  * until `seconds` have passed and at least `minRounds` rounds are done.
  * Warm-ups run independent calls concurrently where that leaves the JIT
  * about as warm (they are set-up, not measurement); the timed rounds
  * issue one call after another.
  * With tracing, odd rounds run with the listeners attached and even
  * rounds without (untraced rounds on both sides of a traced one, so JIT
  * warming does not bias the comparison), and one run yields both the
  * per-layer split and the tracing overhead.
  */
final class Workloads(spark: SparkSession, rec: Recorder, pl: PhaseListener,
                      seconds: Double, trace: Boolean, minRounds: Int) {

  /** Facts recorded for the output checks and the report. */
  val checks = mutable.LinkedHashMap.empty[String, Any]

  private def rounds(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    while (r < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (trace && r % 2 == 1) rec.startTracing() else rec.stopTracing()
      val mark = pl.mark()
      // drained inside the span, so listener records delivered late still
      // fall in this round's window
      rec.span("round", s"round$r") { body(r); rec.drain() } { _ =>
        Map("round" -> r, "stage_totals" -> pl.totals(mark))
      }
      r += 1
    }
    rec.stopTracing()
  }

  /** Run `tasks` on up to `defaultParallelism` threads; results in order. */
  private def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = t()
    })).map(_.get())
    finally pool.shutdown()
  }

  // ---------------- suite_sf01 ----------------

  private def family(name: String): String = name.takeWhile(_.isLetter)

  def suite(data: String, names: Seq[String], seed: Long): Unit = {
    val byName = SparkEntry.decls.map(d => d.name -> d).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val decls = names.map(byName)

    // check pass, outside the timed window, the queries run concurrently
    val outputs = rec.span("warmup", "check_pass") {
      val got = concurrently(decls.map { d => () =>
        d.name -> (try {
          val (n, h) = Workloads.digest(d.run(spark, data))
          Map("rows" -> n, "hash" -> h)
        } catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage)) })
      }).toMap
      spark.catalog.clearCache()
      got
    }()
    checks("outputs") = outputs

    def order(pass: Int) = new scala.util.Random(seed * 1000003L + pass).shuffle(decls)
    // one sequential pass of the timed plans before timing: the check
    // pass above runs other plans (digests), concurrently
    rec.span("warmup", "warm_pass") {
      order(-1).foreach { d =>
        try graft.Bench.materialize(d.run(spark, data))
        catch { case e: Throwable =>
          checks("warm_pass_errors") = checks.getOrElse("warm_pass_errors", Seq.empty)
            .asInstanceOf[Seq[String]] :+ s"${d.name}: ${e.getMessage}"
        }
        spark.catalog.clearCache()
      }
    }()

    rounds { r =>
      order(r).foreach { d =>
        spark.sparkContext.setJobDescription(d.name)
        try rec.span("query", d.name) {
          val df = rec.span("decl_run", d.name, always = false)(d.run(spark, data))()
          val n = rec.span("execute", d.name, always = false)(graft.Bench.materialize(df))()
          if (rec.tracing) rec.record(df.queryExecution)
          n
        }(n => Map("rows" -> n, "family" -> family(d.name)))
        catch { case e: Throwable =>
          rec.annotate("query", Map("family" -> family(d.name),
            "error" -> String.valueOf(e.getMessage)))
        }
        spark.sparkContext.setJobDescription(null)
        spark.catalog.clearCache()
      }
    }
  }

  // ---------------- curate_retrieve_replicated ----------------

  private def report(out: String): Map[String, Long] =
    spark.read.text(out + "_report").collect().map(_.getString(0)).mkString(" ")
      .split("\\s+").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v.toLong
      }.toMap

  /** One round: `Jobs.curateCorpus(gopher = true)` on the replicated
    * corpus, then the index build (`Index.writeInverted`, `Index.write`)
    * and one topic batch on each of three retrieval paths over the same
    * uncurated corpus, with one scoring formula (BM25). Every round
    * checks that the three paths return the same ranked rows. The
    * warm-up runs the same calls on the small `warm` corpus (generated
    * classes are keyed by plan, not data) as three concurrent chains: a
    * full-size warm-up round would leave the timed round ~25% faster but
    * costs ~20 s more per run than the benchmark's time budget allows.
    */
  def replicated(corpus: String, warm: String, topics: String, work: String): Unit = {
    val k = 10 // results per topic
    val q = spark.read.parquet(topics).select("qid", "term")
    val part = Retrieval.bm25Part
    val fin = Retrieval.bm25Final
    // one comparable form per result row: (qid, doc_id, rank, score)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(r => s"${r.get(0)}\t${r.get(1)}\t${r.get(3)}\t${r.get(2)}")
        .toSeq.sorted
    def curate(in: String, out: String): Unit =
      Jobs.curateCorpus(spark, s"parquet:$in", out, gopher = true)
    def inverted(dir: String): DataFrame =
      Index.scoreFromInverted(spark, dir, q, part, fin, conjunctive = false, k)
    def docvec(dir: String): DataFrame =
      Index.scoreFromIndex(Index.load(spark, dir), q, part, fin, conjunctive = false, k)
    def scan(docs: DataFrame): DataFrame =
      Retrieval.scoreFor(docs, q, part, fin, conjunctive = false, k)

    val warmErrors = rec.span("warmup", "warmup") {
      val docs = spark.read.parquet(warm).select("doc_id", "text")
      def attempt(f: => Unit): Option[String] =
        try { f; None } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      concurrently(Seq(
        () => attempt(curate(warm, s"$work/warm_curated")),
        () => attempt {
          Index.writeInverted(docs, s"$work/warm_inverted")
          rows(inverted(s"$work/warm_inverted"))
        },
        () => attempt {
          Index.write(docs, s"$work/warm_docvec")
          rows(docvec(s"$work/warm_docvec"))
          rows(scan(docs))
        })).flatten
    }()
    checks("warmup_errors") = warmErrors

    val docs = spark.read.parquet(corpus).select("doc_id", "text")
    val curated = s"$work/curated"
    val inv = s"$work/inverted"
    val dv = s"$work/docvec"
    def call[T](kind: String, name: String, empty: T)(f: => T)
        (attrs: T => Map[String, Any] = (_: T) => Map.empty[String, Any]): T =
      try rec.span(kind, name)(f)(attrs)
      catch { case e: Throwable =>
        rec.annotate(kind, Map("error" -> String.valueOf(e.getMessage)))
        empty
      }
    def batch(path: String)(df: => DataFrame): Seq[String] =
      call("batch", path, Seq.empty[String])(rows(df))(rs =>
        Map("path" -> path, "results" -> rs.size))
    rounds { _ =>
      call("curate", "curateCorpus", ())(curate(corpus, curated))(
        _ => Map("report" -> report(curated)))
      call("inverted_write", "inverted_write", ())(Index.writeInverted(docs, inv))()
      call("docvec_write", "docvec_write", ())(Index.write(docs, dv))()
      val a = batch("inverted")(inverted(inv))
      val c = batch("docvec")(docvec(dv))
      val s = batch("scan")(scan(docs))
      val prev = checks.getOrElse("results", Seq.empty).asInstanceOf[Seq[Map[String, Any]]]
      checks("results") = prev :+ Map(
        "agree" -> (a.nonEmpty && a == c && a == s),
        "rows" -> a.size, "hash" -> a.mkString("\n").hashCode)
    }
  }
}
