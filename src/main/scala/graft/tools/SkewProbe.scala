package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.functions._

/** Language-skew probe for the r11 px68/px69 de-skew (BENCH_NOTES
  * §0f): on an N×-replicated corpus with a DOMINANT language (90% of
  * docs forced to one key — the 100 TB web-corpus regime), compare the
  * r10 per-language window shapes against the de-skewed shapes on wall
  * time, spill, and answer equality. For px68 the de-skewed shape is
  * [[graft.pipeline.TextMetrics.perplexityBucketsFromScores]]: one
  * range partition by (lang, ppl, doc_id), row ids of each sorted slice
  * plus broadcast slice offsets (phase `px68_cutpoints_r11`, name
  * kept so logs stay comparable); for px69 it is
  * [[graft.pipeline.Sharding.temperatureSample]]'s broadcast cut points.
  *
  * The claim under test: `ntile/row_number OVER (PARTITION BY lang)`
  * funnels the dominant language through ONE task (sort + spill grow
  * linearly with corpus, no parallelism), while the de-skewed
  * assignment stays parallel — so the gap must WIDEN with N.
  *
  * The perplexity scoring chain (shared by both px68 shapes) is
  * materialized once up front and excluded from the timings — at real
  * scale it is a written artifact (px29's output), and the de-skew
  * verdict concerns only the assignment on top.
  *
  * Usage: `sbt "runMain graft.tools.SkewProbe [N]"` (default 500 ⇒
  * 2.5M docs). Results → BENCH_NOTES §0f addendum + probes/skew.log.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val pl = new PhaseListener
    spark.sparkContext.addSparkListener(pl)
    import org.apache.spark.sql.expressions.Window

    // N× replicas, disjoint ids; 90% of docs forced into one language
    val big = spark.range(n).toDF("k")
      .crossJoin(Tables(spark, dir, "documents")
        .select("doc_id", "text", "lang"))
      .select((col("doc_id") + col("k") * lit(10000000L)).as("doc_id"),
        col("text"),
        when(pmod(xxhash64(col("doc_id") + col("k") * lit(10000000L)),
          lit(10)) < 9, lit("en")).otherwise(col("lang")).as("lang"))
      .repartition(32).localCheckpoint()
    val docs = big.count()

    def t(w: String)(f: => Long): Unit = {
      val m = pl.mark()
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      val tt = pl.totals(m)
      println(f"""[skew] {"phase":"$w","n":$n,"docs":$docs,"rows":$r,"sec":$sec%.2f,"shuffle_write_mb":${tt.getOrElse("shuffle_write_mb", 0L)},"spill_disk_mb":${tt.getOrElse("spill_disk_mb", 0L)},"peak_exec_mb":${tt.getOrElse("peak_exec_mb", 0L)}}""")
    }

    import spark.implicits._
    if (!args.contains("only69")) {
    // only68: skip the px69 half (r12 — fills the 10M-doc px68 cell
    // the r11 run left empty; the score chain dominates wall time at
    // that N, so the px69 half is measured separately)
    // ---- px68 shapes: shared per-doc scored frame, materialized ----
    val p = graft.pipeline.TextMetrics.perplexity(big)
      .join(big.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint()
    t("score_chain_shared")(p.count())

    var winB: Map[(String, Long), Long] = null
    t("px68_window_r10") {
      val w = Window.partitionBy("lang").orderBy(col("ppl"), col("doc_id"))
      val r = p.withColumn("bucket", ntile(3).over(w).cast("bigint"))
        .groupBy("lang", "bucket").count()
        .as[(String, Long, Long)].collect()
      winB = r.map(x => (x._1, x._2) -> x._3).toMap
      r.map(_._3).sum
    }
    var cutB: Map[(String, Long), Long] = null
    t("px68_cutpoints_r11") {
      val r = graft.pipeline.TextMetrics
        .perplexityBucketsFromScores(p, 3)
        .groupBy("lang", "bucket").count()
        .as[(String, Long, Long)].collect()
      cutB = r.map(x => (x._1, x._2) -> x._3).toMap
      r.map(_._3).sum
    }
    require(winB == cutB, s"px68 shapes diverged")
    }
    if (args.contains("only68")) {
      println(s"""[skew] {"phase":"equal","px68":true}""")
      spark.stop(); return
    }

    // ---- px69 shapes: end-to-end on the slim (doc_id, lang) frame ----
    val slim = big.select("doc_id", "lang").localCheckpoint()
    t("slim_frame")(slim.count())
    var winS: (Long, Long) = null
    t("px69_window_r10") {
      val quotas = slim.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("pa", expr(
          "power(n_docs / CAST(sum(n_docs) OVER () AS DOUBLE), 3e-1)"))
        .withColumn("quota", expr(
          "CAST(round(round(pa / sum(pa) OVER (), 6) * " +
            "(sum(n_docs) OVER () div 2)) AS BIGINT)"))
        .select(col("lang"), col("quota"))
      val w = Window.partitionBy("lang").orderBy(
        graft.functions.DetHash.h60(col("doc_id").cast("string"), 7),
        col("doc_id"))
      val sel = slim.join(broadcast(quotas), Seq("lang"))
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= col("quota"))
        .agg(count(lit(1)), sum(expr("doc_id % 97")))
        .as[(Long, Long)].head()
      winS = sel
      sel._1
    }
    var cutS: (Long, Long) = null
    t("px69_cutpoints_r11") {
      val sel = graft.pipeline.Sharding.temperatureSample(slim)
        .agg(count(lit(1)), sum(expr("doc_id % 97")))
        .as[(Long, Long)].head()
      cutS = sel
      sel._1
    }
    require(winS == cutS, s"px69 shapes diverged: $winS vs $cutS")
    println(s"""[skew] {"phase":"equal","px68":true,"px69":true}""")
    spark.stop()
  }
}
