package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.functions._

/** Scale probe: replicate the sf0.1 corpus N× with disjoint id ranges
  * and time the dedup chain on it, so "would this hold at 100×?" is a
  * measurement, not an argument. The replicas keep the dup structure
  * (each copy carries the same near-dup components), so CC block
  * count must stay CONSTANT (diameter unchanged) while per-block work
  * grows — the O(log d) independence claim. Usage:
  * `sbt "runMain graft.tools.ScaleProbe [N]"` (default 20 ⇒ 100k docs).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables(spark, dir, "documents").select("doc_id", "text")
    val big = spark.range(n).toDF("k").crossJoin(base)
      .select((col("doc_id") + col("k") * lit(10000000L)).as("doc_id"),
        col("text"))
      .repartition(32)
      .localCheckpoint() // materialize: timings below exclude the build
    val docs = big.count()

    def t(w: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"""[scale] {"phase":"$w","n":$n,"docs":$docs,"rows":$r,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }

    if (!args.contains("only")) {
    // full-output forcing (Bench.materialize), NOT count(): both ops
    // are filter-free narrow selects, so count() lets Catalyst prune
    // every stat/hash expression and times a bare scan of the
    // checkpointed corpus (§0g — the same trap the scrub_dup_spans
    // row below already guards against)
    t("gopher_filter")(
      graft.Bench.materialize(graft.pipeline.TextMetrics.gopherRules(big)))
    t("minhash_narrow")(
      graft.Bench.materialize(graft.pipeline.Dedup.minhashWideNarrow(big)))
    var edges: org.apache.spark.sql.DataFrame = null
    t("lsh_candidates") {
      edges = graft.pipeline.Dedup.lshCandidates(big).localCheckpoint()
      edges.count()
    }
    t("connected_components")(
      graft.pipeline.Dedup.connectedComponents(big, edges).count())
    }

    if (args.contains("spans")) {
      // ExactSubstr removal (r11): the O(tokens) claim measured — the
      // detection statistic and the materialized removal on the same
      // replicated corpus (replicas make EVERY 5-gram duplicated, the
      // worst case: the covered-position explode touches ~all tokens)
      t("dup_spans_detect")(
        graft.pipeline.Dedup.dupSpans(big).count())
      // force the full stitch: a bare count() lets Catalyst prune the
      // clean_text aggregation away and times only the join skeleton
      t("scrub_dup_spans")(
        graft.pipeline.Dedup.scrubDupSpans(big)
          .agg(expr("sum(length(clean_text))").as("chk"),
            expr("CAST(sum(n_removed) AS BIGINT)").as("rm"))
          .head().getLong(1))
    }

    if (args.contains("emb")) {
      // similarity-search twin: IVF's candidate cut vs brute force on
      // an N×-replicated vector table (timing is value-independent)
      import graft.pipeline.Ann
      val ebase = Tables(spark, dir, "embeddings")
      val ebig = spark.range(n).toDF("k").crossJoin(ebase)
        .select((col("vec_id") + col("k") * lit(10000000L)).as("vec_id"),
          col("embedding"))
        .repartition(32).localCheckpoint()
      val nv = ebig.count()
      val queries = ebase.filter(col("vec_id") < 20)
      def te(w: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val r = f
        println(f"""[scale] {"phase":"$w","n":$n,"vecs":$nv,"rows":$r,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
      var cent: org.apache.spark.sql.DataFrame = null
      te("ivf_build_centroids") {
        cent = Ann.kmeansCentroids(ebig, 16, 1).localCheckpoint(); cent.count()
      }
      var asg: org.apache.spark.sql.DataFrame = null
      te("ivf_assign") {
        asg = Ann.ivfAssign(ebig, cent).localCheckpoint(); asg.count()
      }
      te("ivf_topk_nprobe4")(
        Ann.ivfTopK(ebig, cent, asg, queries, nprobe = 4, k = 10).count())
      te("brute_cosine_topk")(
        Ann.cosineTopK(ebig, queries, k = 10).count())
      // the deployed IVF layout: assignment PRE-MATERIALIZED with the
      // corpus (cid as the storage partition key), so query time pays
      // no corpus-side join — and a bigger query batch, where the
      // candidate cut actually matters
      val ebigC = ebig.join(asg.withColumnRenamed("vid", "vec_id"),
        Seq("vec_id")).localCheckpoint()
      val q200 = ebase.filter(col("vec_id") < 200)
      te("ivf200_prejoined_nprobe4") {
        val q = q200.select(col("vec_id").as("qid"), col("embedding").as("qe"))
          .withColumn("qn", expr("sqrt(norm2_f64(qe))"))
        val probes = q.crossJoin(broadcast(cent))
          .withColumn("d2", expr(
            "aggregate(zip_with(qe, centroid, (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), 0d, (s, v) -> s + v)"))
          .withColumn("pr", expr(
            "row_number() OVER (PARTITION BY qid ORDER BY round(d2, 6), cid)"))
          .filter(col("pr") <= 4).select("qid", "qe", "qn", "cid")
        ebigC.select(col("vec_id").as("vid"), col("embedding").as("ce"), col("cid"))
          .withColumn("cn", expr("sqrt(norm2_f64(ce))"))
          .join(broadcast(probes), Seq("cid"))
          .filter(col("qid") =!= col("vid"))
          .withColumn("cos", expr("dot_f64(qe, ce) / (qn * cn)"))
          .withColumn("rank", expr(
            "row_number() OVER (PARTITION BY qid ORDER BY round(cos, 9) DESC, vid)"))
          .filter(col("rank") <= 10).count()
      }
      te("brute200_cosine_topk")(
        Ann.cosineTopK(ebig, q200, k = 10).count())
      // the cid-PARTITIONED layout (partition pruning on probed lists,
      // PartitionPruningSpec e2e): write once, then the probe query
      // opens only nprobe/k of the list directories
      val ivfDir = java.nio.file.Files
        .createTempDirectory("scale_ivf").toString
      te("ivf_write_partitioned") {
        Ann.writeIvfPartitioned(ebig, cent, ivfDir)
        spark.read.parquet(ivfDir).count()
      }
      te("ivf200_partitioned_nprobe4")(
        Ann.ivfTopKPartitioned(spark, ivfDir, cent, q200,
          nprobe = 4, k = 10).count())
    }

    if (args.contains("curate")) {
      // The r5 verdict's headline item: the COMPOSED curation +
      // retrieval chain at N=500 (~2.5M docs), measured per-phase with
      // spill/memory columns (PhaseListener), instead of per-piece
      // probes.
      import graft.ir.Retrieval
      import graft.pipeline.Dedup
      val pl = new PhaseListener
      spark.sparkContext.addSparkListener(pl)
      def json(m: Map[String, Long]): String =
        m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
          .mkString(",")
      def tm(w: String)(f: => Long): Unit = {
        val m0 = pl.mark()
        pl.resetHeap()
        val t0 = System.nanoTime()
        val r = f
        val wall = (System.nanoTime() - t0) / 1e9
        // deterministic drain, not a fixed sleep: on a loaded machine
        // the async bus can take >400 ms and the phase table would
        // silently miss trailing stages (the SkewProbe idiom)
        org.apache.spark.graft.Listeners.drain(spark.sparkContext)
        println(f"""[scale] {"phase":"$w","n":$n,"docs":$docs,"rows":$r,"sec":$wall%.2f,"peak_heap_mb":${pl.peakHeapMb},${json(pl.totals(m0))}}""")
      }

      val tmp = java.nio.file.Files.createTempDirectory("scale_curate")
        .toString
      val inDir = s"$tmp/corpus"
      val outDir = s"$tmp/curated"
      tm("corpus_write") {
        big.write.mode("overwrite").parquet(inDir)
        spark.read.parquet(inDir).count()
      }

      // the composed run: one call, per-action attribution via the
      // curate:<stage> job descriptions curateCorpus sets itself
      val m0 = pl.mark()
      pl.resetHeap()
      val t0 = System.nanoTime()
      graft.jobs.Jobs.curateCorpus(spark, s"parquet:$inDir", outDir,
        gopher = true)
      val cw = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      println(f"""[scale] {"phase":"curate_composed","n":$n,"docs":$docs,"sec":$cw%.2f,"peak_heap_mb":${pl.peakHeapMb},${json(pl.totals(m0))}}""")
      pl.phaseTable(m0).foreach { case (desc, m) =>
        println(s"""[scale] {"phase":"$desc","n":$n,${json(m)}}""")
      }
      println("[scale] report: " + spark.read.text(outDir + "_report")
        .collect().map(_.getString(0)).mkString)

      // retrieval over the curated corpus (the chain a training-data
      // pipeline runs next: score/sample the kept docs)
      val curated = spark.read.parquet(outDir).localCheckpoint()
      import spark.implicits._
      val q = Retrieval.querySet
        .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
      tm("retrieval_bm25")(
        Retrieval.scoreFor(curated, q, Retrieval.bm25Part,
          Retrieval.bm25Final, conjunctive = false, k = 10).count())

      // the two growth curves the verdict flagged: LSH edge count and
      // CC convergence (components as rows here). The replicated
      // corpus is ALL mega-buckets (500 copies of every doc share
      // every signature), so the clique pair count
      // is computed arithmetically per bucket — materializing it is
      // exactly the quadratic blowup the star edges exist to avoid.
      tm("lsh_clique_pairs_upper")(
        Dedup.bandSigs(Dedup.minhashWide(big))
          .groupBy("band", "sig").count()
          .selectExpr("CAST(sum(count * (count - 1) / 2) AS BIGINT) AS p")
          .collect()(0).getLong(0))
      var cedges: org.apache.spark.sql.DataFrame = null
      tm("lsh_star_edges") {
        cedges = Dedup.lshEdges(big).localCheckpoint()
        cedges.count()
      }
      tm("cc_converge")(
        Dedup.connectedComponents(big, cedges)
          .select("lbl").distinct().count())
    }

    if (args.contains("bloom")) {
      // Bloom-prefilter A/B at replicated scale: the px56 claim is
      // that when the benchmark n-gram set cannot broadcast, the
      // sketch cuts the contamination join's shuffle input by ~1/fpp.
      // Broadcast is disabled for both join phases so the shuffle-size
      // cut is the thing actually measured, not hidden behind a
      // broadcast hash join of the small fixture bench set.
      import graft.functions.{BloomMc, DetHash}
      import graft.text.TextOps
      val sh = TextOps.shingleRows(big, 5)
        .select(col("doc_id"), DetHash.h60(col("s")).as("sh"))
      val corpus = sh.filter(col("doc_id") % lit(10000000L) >= 50)
        .localCheckpoint()
      val nsh = corpus.count()
      val bench = sh.filter(col("doc_id") < 50).select("sh").distinct()
        .localCheckpoint()
      val nb = bench.count()
      println(s"""[scale] {"phase":"bloom_sizes","n":$n,"bench_shingles":$nb,"corpus_shingles":$nsh}""")
      var bloom: Array[Byte] = null
      t("bloom_build") {
        bloom = BloomMc.buildLongBloom(bench, "sh", nb max 1024, 0.01)
        bloom.length.toLong
      }
      var surv = 0L
      t("bloom_prefilter_scan") {
        surv = corpus.filter(BloomMc.mightContain(bloom, col("sh"))).count()
        surv
      }
      println(f"""[scale] {"phase":"bloom_prune","n":$n,"survivors":$surv,"prune_pct":${100.0 * (nsh - surv) / nsh}%.2f}""")
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      t("shuffle_join_plain")(
        corpus.join(bench, Seq("sh")).groupBy("doc_id").count().count())
      t("shuffle_join_bloomed")(
        corpus.filter(BloomMc.mightContain(bloom, col("sh")))
          .join(bench, Seq("sh")).groupBy("doc_id").count().count())
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    }

    if (args.contains("semdedup")) {
      // SemDeDup pair-count scaling: k must grow with n (pairs =
      // n²/2k for balanced clusters); measure wall + realized pair
      // count at 3 k values on the N×-replicated vector table.
      import graft.pipeline.{Ann, Dedup}
      val ebase = Tables(spark, dir, "embeddings")
      val ebig = spark.range(n).toDF("k").crossJoin(ebase)
        .select((col("vec_id") + col("k") * lit(10000000L)).as("vec_id"),
          col("embedding"))
        .repartition(32).localCheckpoint()
      val nv = ebig.count()
      for (k <- Seq(4, 16, 64)) {
        val t0 = System.nanoTime()
        val cents = Ann.kmeansCentroids(ebig, k, 1).localCheckpoint()
        val pairs = Ann.ivfAssign(ebig, cents).groupBy("cid").count()
          .selectExpr("CAST(sum(count * (count - 1) / 2) AS BIGINT)")
          .collect()(0).getLong(0)
        val kept = Dedup.semDedup(ebig, k, 1, 0.99).filter(col("keep") === 1)
          .count()
        println(f"""[scale] {"phase":"semdedup_k$k","n":$n,"vecs":$nv,"pairs":$pairs,"kept":$kept,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
    }
    spark.stop()
  }
}
