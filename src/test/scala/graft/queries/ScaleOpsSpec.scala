package graft.queries

import graft.{SparkSpec, SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** Brute-force cross-checks for the scale-shaped operators (as-of join,
  * bucketed range join, KMV sketch, perplexity, repetition): each
  * optimized plan must equal the obvious quadratic/naive formulation on
  * the tiny corpus.
  */
class ScaleOpsSpec extends SparkSpec {

  test("q18 as-of join equals brute-force latest-click-at-or-before") {
    val got = SparkEntry.queries("q18_asof_join")(spark, sfTiny)
    val ev = Tables(spark, sfTiny, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("ce"),
        unix_micros(col("ts")).as("tc"))
    // winner among clicks with tc <= purchase time: max (tc, event_id)
    // — exactly the (time, kind, event_id) tail of the window order.
    val brute = p.join(c, Seq("user_id"), "left")
      .withColumn("cand",
        when(col("tc") <= col("t_us"), struct(col("tc"), col("ce"))))
      .groupBy("event_id", "user_id", "t_us")
      .agg(max(col("cand")).getField("ce").as("last_click"))
    assert(got.count() == brute.count())
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
    // sanity: at least one purchase actually has a preceding click
    assert(got.filter(col("last_click").isNotNull).count() > 0)
  }

  test("q19 bucketed range join equals naive per-user range filter") {
    val got = SparkEntry.queries("q19_range_join")(spark, sfTiny)
    val ev = Tables(spark, sfTiny, "events")
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t0"))
    val clk = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("tc"))
    val brute = err.join(clk, Seq("user_id"), "left")
      .withColumn("hit",
        when(col("tc") >= col("t0") - 300000000L && col("tc") < col("t0"), 1L)
          .otherwise(0L))
      .groupBy("event_id", "user_id")
      .agg(sum("hit").as("n_clicks"))
    assert(got.count() == brute.count())
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
    assert(got.agg(sum("n_clicks")).head().getLong(0) > 0)
  }

  test("px28 KMV estimate lands near the exact distinct count") {
    val r = SparkEntry.queries("px28_kmv_distinct")(spark, sfTiny).head()
    val ksz = r.getAs[Long]("ksz")
    val est = r.getAs[Double]("est_nd")
    val exact = r.getAs[Long]("exact_nd")
    assert(ksz == 64, s"expected full sketch, got k=$ksz")
    // KMV stderr ≈ 1/√(k−2) ≈ 13% at k=64; 3σ bound with slack.
    assert(math.abs(est - exact) / exact < 0.5, s"est=$est exact=$exact")
  }

  test("px29 perplexity: ppl == exp(xent), and bounded below by vocab") {
    import spark.implicits._
    val rows = SparkEntry.queries("px29_perplexity")(spark, sfTiny)
      .select("xent", "ppl").as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (xent, ppl) =>
      assert(math.abs(ppl - math.exp(xent)) / ppl < 1e-4)
      assert(ppl >= 1.0) // exp of a nonneg cross-entropy
    }
  }

  test("px68 cut-point buckets == the ntile window, any nBuckets") {
    // the de-skewed range-rank assignment must be bit-equal to
    // ntile(n) OVER (PARTITION BY lang ORDER BY ppl, doc_id) — checked
    // across bucket counts that exercise uneven splits and n < nBuckets
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sfTiny, "documents")
    for (nb <- Seq(2, 3, 4, 7)) {
      val got = graft.pipeline.TextMetrics.perplexityBuckets(docs, nb)
        .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
      val w = Window.partitionBy("lang").orderBy(col("ppl"), col("doc_id"))
      val expect = graft.pipeline.TextMetrics.perplexity(docs)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .withColumn("bucket", ntile(nb).over(w).cast("bigint"))
        .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
      assert(got == expect, s"nBuckets=$nb: " +
        s"diff=${(got.toSet diff expect.toSet).take(5)}")
    }
    // a tie mass: ~2,000 rows over 3 ppl values (plus NULL ppl rows and
    // a NULL-language group) with shuffled ids, over 16 range slices,
    // so every tie group spans several slices and the cuts land inside
    // ties
    val ties = spark.range(2000).select(
      (col("id") * 7919L % 2003L).as("doc_id"),
      when(col("id") % 5 === 0, lit(null).cast("string"))
        .when(col("id") % 5 < 3, lit("en")).otherwise(lit("fr")).as("lang"),
      when(col("id") % 97 === 0, lit(null).cast("double"))
        .otherwise((col("id") * 31 % 3).cast("double") + 0.5).as("ppl"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      for (nb <- Seq(2, 3, 7)) {
        val got = graft.pipeline.TextMetrics
          .perplexityBucketsFromScores(ties, nb)
          .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
        val w = Window.partitionBy("lang").orderBy(col("ppl"), col("doc_id"))
        val expect = ties.withColumn("bucket", ntile(nb).over(w).cast("bigint"))
          .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
        assert(got.size == 2000 && got == expect, s"ties, nBuckets=$nb: " +
          s"diff=${(got.toSet diff expect.toSet).take(5)}")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("px68 bucketer: one range-partitioned pass, bounded job count") {
    // one range sampler, one slice-id checkpoint and one broadcast: the
    // assignment of a checkpointed frame runs 6 jobs here (the histogram,
    // cut search and tie band this shape replaced ran 22)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val docs = Tables(spark, sfTiny, "documents")
    val p = docs.select(col("doc_id"), col("lang"))
      .join(graft.pipeline.TextMetrics.perplexity(docs), Seq("doc_id"), "left")
      .localCheckpoint()
    val nDocs = p.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.Listeners.drain(sc)
    sc.addSparkListener(l)
    try {
      val n = graft.pipeline.TextMetrics.perplexityBucketsFromScores(p, 3)
        .collect().length
      assert(n == nDocs)
      org.apache.spark.graft.Listeners.drain(sc)
    } finally sc.removeSparkListener(l)
    assert(jobs.get <= 8, s"${jobs.get} jobs")

    // executed plans (AQE off) of every query the call runs, the slice
    // checkpoint's included: the range shuffle is the only exchange
    // that carries corpus rows (doc_id); the offsets' exchange carries
    // per-(lang, slice) partial counts
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.listenerManager.register(ql)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.pipeline.TextMetrics.perplexityBucketsFromScores(p, 3).collect()
      org.apache.spark.graft.Listeners.drain(sc)
    } finally {
      spark.listenerManager.unregister(ql)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    import scala.jdk.CollectionConverters._
    val corpusExchanges = plans.asScala.toSeq.flatMap(_.executedPlan.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "doc_id") =>
        e.outputPartitioning.getClass.getSimpleName
    })
    assert(corpusExchanges == Seq("RangePartitioning"), corpusExchanges)
  }

  test("px68 buckets survive exchange reuse being disabled (checkpointed slice ids)") {
    // the range rank and its `offs` branch must observe the SAME
    // physical range partitioning; the lazy
    // localCheckpoint pins it, so correctness cannot silently depend
    // on plan-level exchange reuse — this pins the checkpoint
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sfTiny, "documents")
    val prev = spark.conf.get("spark.sql.exchange.reuse")
    try {
      spark.conf.set("spark.sql.exchange.reuse", "false")
      val got = graft.pipeline.TextMetrics.perplexityBuckets(docs, 3)
        .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
      val w = Window.partitionBy("lang").orderBy(col("ppl"), col("doc_id"))
      val expect = graft.pipeline.TextMetrics.perplexity(docs)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .withColumn("bucket", ntile(3).over(w).cast("bigint"))
        .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
      assert(got == expect,
        s"diff=${(got.toSet diff expect.toSet).take(5)}")
    } finally spark.conf.set("spark.sql.exchange.reuse", prev)
  }

  test("px68 buckets: NULL ppl rows bucket nulls-first, not dropped (caller frames)") {
    // the internal perplexity() never emits NULL, but the assignment
    // half is public for caller-supplied px29 artifacts — a NULL ppl
    // must land where Spark's own ntile window puts it (nulls first),
    // including when a CUT itself falls on a NULL-ppl row
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val p = Seq(
      (1L, None: Option[Double], "en"), (2L, None: Option[Double], "en"),
      (3L, Some(2.0), "en"), (4L, Some(3.0), "en"),
      (10L, Some(1.0), "fr"))
      .toDF("doc_id", "ppl", "lang")
    val got = graft.pipeline.TextMetrics
      .perplexityBucketsFromScores(p, 3)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    val w = Window.partitionBy("lang").orderBy(col("ppl"), col("doc_id"))
    val expect = p.withColumn("bucket", ntile(3).over(w).cast("bigint"))
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("px68 buckets: NULL-language docs are a language of their own, not dropped") {
    // web corpora have docs with missing language metadata; the r10
    // ntile window bucketed them in their own partition — the range-rank
    // assignment must too (a plain equi-join would silently drop them)
    import spark.implicits._
    val p = Seq(
      (1L, 5L, 1.5, "en"), (2L, 5L, 2.5, "en"), (3L, 5L, 3.5, "en"),
      (10L, 5L, 1.0, null), (11L, 5L, 2.0, null), (12L, 5L, 3.0, null))
      .toDF("doc_id", "dl", "ppl", "lang")
    val got = graft.pipeline.TextMetrics
      .perplexityBucketsFromScores(p, 3)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L,
      10L -> 1L, 11L -> 2L, 12L -> 3L), got.toString)
  }

  test("px68 buckets: token-less docs get a NULL-ppl verdict, not dropped " +
    "(r19 hand-off finding 2)") {
    // perplexity() emits no row for a token-less doc; the banding must
    // still hand every input doc a verdict (one row per doc, the
    // quality() r18 convention) — NULL ppl buckets nulls-first, exactly
    // where a left-join + ntile window would put it
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Seq((1L, "alpha beta gamma", "en"), (2L, "delta alpha", "en"),
      (3L, "", "en"), (4L, null.asInstanceOf[String], "fr"),
      (5L, "epsilon zeta", "fr")).toDF("doc_id", "text", "lang")
    val got = graft.pipeline.TextMetrics.perplexityBuckets(docs, 2)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    val w = Window.partitionBy("lang")
      .orderBy(col("ppl").asc_nulls_first, col("doc_id"))
    val expect = docs.select("doc_id", "lang")
      .join(graft.pipeline.TextMetrics.perplexity(docs), Seq("doc_id"), "left")
      .withColumn("bucket", ntile(2).over(w).cast("bigint"))
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    assert(got.size == 5 && got == expect, s"got $got expect $expect")
  }

  test("px68 ccnet buckets: balanced per-lang terciles, bands ordered by ppl") {
    import spark.implicits._
    val perDoc = graft.pipeline.TextMetrics
      .perplexityBuckets(Tables(spark, sfTiny, "documents"), 3)
      .select("lang", "bucket", "ppl").as[(String, Long, Double)].collect()
    assert(perDoc.nonEmpty)
    perDoc.groupBy(_._1).foreach { case (_, rows) =>
      val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
      assert(sizes.keySet.subsetOf(Set(1L, 2L, 3L)))
      // ntile balance: bucket sizes differ by at most 1
      assert(sizes.values.max - sizes.values.min <= 1)
      // bands are ppl-ordered: max(head) <= min(middle) <= ... etc
      val byB = rows.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
      for (b <- 1L to 2L if byB.contains(b) && byB.contains(b + 1))
        assert(byB(b).max <= byB(b + 1).min)
    }
  }

  test("px30 repetition ratio in [0,1], distinct <= total") {
    import spark.implicits._
    val rows = SparkEntry.queries("px30_repetition")(spark, sfTiny)
      .select("n_sh", "d_sh", "rep_ratio").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, d, r) =>
      assert(d <= n)
      assert(r >= 0.0 && r <= 1.0)
      assert(math.abs(r - (1.0 - d.toDouble / n)) < 1e-5)
    }
  }
}
