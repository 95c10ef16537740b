package graft.tools

import graft.{GraftSession, Tables}
import graft.ir.{Index, Retrieval}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Inverted-index rehearsal at replicated scale (r8 verdict item 5 /
  * r6 item carried): `Index.writeInverted` + `scoreFromInverted` at
  * N× the sf0.1 corpus (N=500 ⇒ 2.5M docs), measuring the three
  * things an sf0.1-sized build cannot see (and the sharded-postings
  * branch, which only runs past 65,536 docs holding a token):
  *
  *  - postings SKEW: replication multiplies every term's df by N, so
  *    the head term's postings list becomes one multi-million-struct
  *    array cell inside a single row — the build's per-task memory
  *    ceiling. Reported: max/median postings length and the built
  *    layout's file sizes.
  *  - literal-IN pruning at grown VOCABULARY: each replica's docs get
  *    a synthetic rare term (`w<hash>x<k>`), growing the vocabulary
  *    ~250× while query terms stay the replicated head — the probe
  *    reports actual bytes READ by scoreFromInverted (task
  *    inputMetrics) vs the postings layout's on-disk size, i.e. how
  *    much of the index a 13-term query set really touches.
  *  - peak heap across build and query (MemoryPool peaks, reset
  *    before each phase).
  *
  * Usage: `sbt "runMain graft.tools.IndexScaleProbe [N]"` (default
  * 500). Results → BENCH_NOTES §3g + probes/index_scale500.log.
  *
  * `sbt "runMain graft.tools.IndexScaleProbe N shardedRead"` (r19,
  * the r18 verdict's item 4): sharded-layout READ-side focus at
  * N >= 1000 — builds ONLY the 65536-bounded sharded layout (the
  * compact build and the rawscan yardstick are r18-settled) and runs
  * scoring twice: the head query set (every term's postings sharded
  * across ~max_df/65536 shards) and a SKEWED head+tail set mixing
  * those heads with synthetic rare terms (`w<h>x<k>`, df ≈ corpus/1000
  * each) — the vocabulary-pruning case: fs_read_kb vs
  * sharded_postings_mb is the literal-IN row-group pruning evidence
  * at the grown vocab.
  */
object IndexScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500)
    val shardedReadOnly = args.lift(1).contains("shardedRead")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    // task-level input bytes, summed via listener; NOTE this counter
    // sees block-manager/cache reads but NOT this Spark build's
    // parquet scans (FileScanRDD no longer feeds task inputMetrics in
    // local mode) — the fs counter below is the parquet truth
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      })
    // bytes the JVM actually pulled through the local Hadoop
    // filesystem (every parquet read; shuffle and checkpoint I/O go
    // through java.io directly and are excluded) — the counter that
    // proves or disproves literal-IN row-group pruning
    def fsBytesRead: Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    }

    import scala.jdk.CollectionConverters._
    def heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    def peakMb: Long = heapPools.map(_.getPeakUsage.getUsed).sum >> 20

    val base = Tables(spark, dir, "documents").select("doc_id", "text")
    // each replica appends one synthetic rare term: vocabulary grows by
    // ~1000 terms per replica (hash-bucketed), postings of the REAL
    // terms grow ×N — both axes of the 100 TB question at once
    val big = spark.range(n).toDF("k").crossJoin(base)
      .select((col("doc_id") + col("k") * lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" w"),
          pmod(xxhash64(col("doc_id"), col("k")), lit(1000L)),
          lit("x"), col("k")).as("text"))
      .repartition(64)
      .localCheckpoint()
    val docs = big.count()

    // `withCkptRead`: the phase's bytes_read includes re-reading the
    // localCheckpoint partitions of the replicated corpus — flagged in
    // the JSON so the number is never quoted as pure index-build I/O
    def t[A](w: String, withCkptRead: Boolean = false)(f: => A): A = {
      resetPeaks(); bytesRead.set(0L)
      val fs0 = fsBytesRead
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      // deterministic: wait for every queued task-end event, not a
      // fixed sleep (async bus undercounts on slow machines)
      org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      println(f"""[idxscale] {"phase":"$w","n":$n,"docs":$docs,"sec":$sec%.2f,"peak_heap_mb":$peakMb,"task_input_mb":${bytesRead.get >> 20},"fs_read_kb":${(fsBytesRead - fs0) >> 10},"bytes_includes_checkpoint_read":$withCkptRead}""")
      r
    }

    val work = java.nio.file.Files.createTempDirectory("idxscale").toString

    if (shardedReadOnly) {
      import spark.implicits._
      t("write_inverted_sharded", withCkptRead = true)(
        Index.writeInverted(big, s"$work/invsh", files = 64,
          maxPostings = 65536))
      val postSh = spark.read.parquet(s"$work/invsh/postings")
      val shSkew = postSh.agg(
        count(lit(1)).as("rows"),
        countDistinct(col("term")).as("vocab"),
        max(size(col("postings"))).as("max_postings")).head()
      def dMb(p: String): Long = {
        val d = new java.io.File(p)
        (if (d.isDirectory) d.listFiles.map(_.length).sum else 0L) >> 20
      }
      println(s"""[idxscale] {"sharded_rows":${shSkew.getLong(0)},"vocab_terms":${shSkew.getLong(1)},"sharded_max_postings":${shSkew.getInt(2)},"sharded_postings_mb":${dMb(s"$work/invsh/postings")}}""")
      val headQ = Retrieval.querySet
        .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
      // skewed head+tail set: each head query keeps its head terms and
      // gains two synthetic rare terms of replicas 0 and n/2 (df about
      // corpus/1000 each at hash bucket h = qid % 1000) — one query now
      // touches both a max-df sharded list and near-singleton shards
      val skewQ = Retrieval.querySet.flatMap { case (qid, ts) =>
        ts.map(qid -> _) ++ Seq(
          qid -> s"w${qid.toInt % 1000}x0",
          qid -> s"w${qid.toInt % 1000}x${n / 2}")
      }.toDF("qid", "term")
      // non-vacuity check: the synthetic tail terms must EXIST in the
      // index (rows found + their df), or the skewed pass silently
      // re-measures the head case
      val skewTerms = Retrieval.querySet.map(_._1).flatMap(q =>
        Seq(s"w${q.toInt % 1000}x0", s"w${q.toInt % 1000}x${n / 2}"))
      val found = postSh.filter(col("term").isin(skewTerms: _*))
        .agg(count(lit(1)).as("rows"),
          expr("CAST(sum(df) AS BIGINT)").as("sum_df")).head()
      println(s"""[idxscale] {"skew_terms":${skewTerms.length},"skew_rows_found":${found.getLong(0)},"skew_sum_df":${found.get(1)}}""")
      // tail-ONLY queries isolate the vocab-tail read: every byte this
      // pass pulls is attributable to the rare terms' shards alone
      val tailQ = Retrieval.querySet.map(_._1).flatMap(qid => Seq(
        qid -> s"w${qid.toInt % 1000}x0",
        qid -> s"w${qid.toInt % 1000}x${n / 2}")).toDF("qid", "term")
      val c1 = t("score_sharded_head_cold")(
        Index.scoreFromInverted(spark, s"$work/invsh", headQ,
          Retrieval.lmdirPart, Retrieval.lmdirFinal,
          conjunctive = false, 10).count())
      val c2 = t("score_sharded_head_warm")(
        Index.scoreFromInverted(spark, s"$work/invsh", headQ,
          Retrieval.lmdirPart, Retrieval.lmdirFinal,
          conjunctive = false, 10).count())
      val c3 = t("score_sharded_skewed")(
        Index.scoreFromInverted(spark, s"$work/invsh", skewQ,
          Retrieval.lmdirPart, Retrieval.lmdirFinal,
          conjunctive = false, 10).count())
      val c4 = t("score_sharded_tail_only")(
        Index.scoreFromInverted(spark, s"$work/invsh", tailQ,
          Retrieval.lmdirPart, Retrieval.lmdirFinal,
          conjunctive = false, 10).count())
      println(s"""[idxscale] {"rows_head_cold":$c1,"rows_head_warm":$c2,"rows_skewed":$c3,"rows_tail_only":$c4}""")
      spark.stop()
      return
    }

    t("write_inverted", withCkptRead = true)(
      Index.writeInverted(big, s"$work/inv", files = 64))

    // layout + skew stats (one cheap scan over the postings metadata)
    val post = spark.read.parquet(s"$work/inv/postings")
    val skew = post.agg(
      count(lit(1)).as("terms"),
      max(col("df")).as("max_df"),
      expr("percentile_approx(df, 0.5)").as("p50_df"),
      max(size(col("postings"))).as("max_postings")).head()
    def dirMb(p: String): Long = {
      val d = new java.io.File(p)
      (if (d.isDirectory) d.listFiles.map(_.length).sum else 0L) >> 20
    }
    println(s"""[idxscale] {"vocab_terms":${skew.getLong(0)},"max_df":${skew.getLong(1)},"p50_df":${skew.get(2)},"max_postings":${skew.getInt(3)},"postings_mb":${dirMb(s"$work/inv/postings")},"doclen_mb":${dirMb(s"$work/inv/doclen")}}""")

    val q = Retrieval.querySet
      .flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toSeq
    import spark.implicits._
    val qdf = q.toDF("qid", "term")

    // cold + warm query passes from the inverted layout
    t("score_inverted_cold")(
      Index.scoreFromInverted(spark, s"$work/inv", qdf, Retrieval.lmdirPart,
        Retrieval.lmdirFinal, conjunctive = false, 10).count())
    t("score_inverted_warm")(
      Index.scoreFromInverted(spark, s"$work/inv", qdf, Retrieval.lmdirPart,
        Retrieval.lmdirFinal, conjunctive = false, 10).count())
    // the yardstick: the same retrieval straight off the raw corpus
    // (tokenize every doc, every query) — what the index amortizes away
    t("score_rawscan", withCkptRead = true)(
      Retrieval.scoreFor(big, qdf, Retrieval.lmdirPart,
        Retrieval.lmdirFinal, conjunctive = false, 10).count())

    // the pressure valve under test: bounded-postings shards (64k)
    // kill the single 1.96M-struct row — measure build cost + peak
    // heap vs the compact layout, and that scoring still reads it
    t("write_inverted_sharded", withCkptRead = true)(
      Index.writeInverted(big, s"$work/invsh", files = 64,
        maxPostings = 65536))
    val postSh = spark.read.parquet(s"$work/invsh/postings")
    val shSkew = postSh.agg(
      count(lit(1)).as("rows"),
      max(size(col("postings"))).as("max_postings")).head()
    println(s"""[idxscale] {"sharded_rows":${shSkew.getLong(0)},"sharded_max_postings":${shSkew.getInt(1)},"sharded_postings_mb":${dirMb(s"$work/invsh/postings")}}""")
    t("score_inverted_sharded")(
      Index.scoreFromInverted(spark, s"$work/invsh", qdf,
        Retrieval.lmdirPart, Retrieval.lmdirFinal,
        conjunctive = false, 10).count())

    spark.stop()
  }
}
