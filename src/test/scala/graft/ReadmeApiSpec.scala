package graft

import graft.pipeline.{Ann, Classify, Dedup, TextMetrics}
import org.apache.spark.sql.functions.{col, expr}

/** The README's quickstart snippets, compiled and executed verbatim
  * (modulo scale knobs sized for sf0.001) — the doc can't drift from
  * the API without failing this suite.
  */
class ReadmeApiSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sfTiny, "documents")
  private lazy val embeddings = Tables(spark, sfTiny, "embeddings")
  private lazy val queryVecs = embeddings.filter(col("vec_id") < 5)

  test("dedup quickstart: exactKeepers / nearDupKeepers / semDedup") {
    val kept = docs.join(Dedup.exactKeepers(docs), Seq("doc_id"), "left_semi")
    assert(kept.count() > 0 && kept.count() <= docs.count())
    val keep2 = docs.join(Dedup.nearDupKeepers(docs), Seq("doc_id"), "left_semi")
    assert(keep2.count() > 0 && keep2.count() <= kept.count())
    val verdicts = Dedup.semDedup(embeddings, kClusters = 4, iters = 2,
      threshold = 0.95)
    assert(verdicts.count() === embeddings.count())
  }

  test("dedup quickstart: incremental store path + chunk windows") {
    // mirror the README: corpus signatures persisted once, batch
    // checked against the store (scale knobs sized for sf0.001)
    val work = java.nio.file.Files.createTempDirectory("readme-inc").toString
    val corpus = docs.filter(col("doc_id") < 40)
    val batch = docs.filter(col("doc_id") >= 40)
    Dedup.minhashWide(corpus).write.parquet(s"$work/sigs")
    val batchVerdicts = Dedup.incrementalNearDupsFromSigs(
      spark.read.parquet(s"$work/sigs"), corpus,
      Dedup.minhashWide(batch), batch, threshold = 0.5)
    assert(batchVerdicts.count() === batch.count())
    val wins = TextMetrics.chunkWindows(docs, win = 512, stride = 256)
    val dupWins = wins.groupBy("wh").count().filter(col("count") >= 2)
    assert(wins.count() > 0 && dupWins.count() >= 0)
  }

  test("ANN quickstart: IVF partitioned layout probes with pruning") {
    val work = java.nio.file.Files.createTempDirectory("readme-ivf").toString
    val cents = Ann.kmeansCentroids(embeddings, kClusters = 4, iters = 2)
    Ann.writeIvfPartitioned(embeddings, cents, s"$work/ivf")
    val hits = Ann.ivfTopKPartitioned(spark, s"$work/ivf", cents,
      queryVecs, nprobe = 2, k = 10)
    assert(hits.groupBy("qid").count().count() === queryVecs.count())
  }

  test("PQ quickstart: train on a sample, search codes-only") {
    // mirror the README: unit-normalize first so ADC's L2 geometry
    // ranks like the cosine APIs
    val unit = embeddings.withColumn("embedding",
      expr("transform(embedding, x -> x / sqrt(aggregate(embedding," +
        " 0d, (a, v) -> a + v * v)))"))
    val cb = Ann.pqTrain(unit.limit(100), blocks = 8,
      kCodes = 8, iters = 2)
    val codes = Ann.pqEncode(unit, cb)
    val near = Ann.pqAdcTopK(codes, cb, queryVecs, k = 10)
    assert(near.count() === queryVecs.count() * 10)
    val top = Ann.adcRefine(
      Ann.pqAdcTopK(codes, cb, queryVecs, k = 100), // R = 100 shortlist
      unit, queryVecs, k = 10)
    assert(top.count() === queryVecs.count() * 10)
    // IVFADC proper: residual-trained codebook, codes carry their
    // list id, per-(query, list) residual LUTs at search
    val ucents = Ann.kmeansCentroids(unit, kClusters = 4, iters = 2)
    val resid = Ann.ivfResiduals(unit, ucents)
    val rcb = Ann.pqTrain(resid.limit(100), blocks = 8,
      kCodes = 8, iters = 2, idCol = "vid", embCol = "res")
    val rcodes = Ann.ivfPqEncode(resid, rcb)
    val rtop = Ann.adcRefine(
      Ann.ivfAdcTopK(rcodes, ucents, rcb, queryVecs, nprobe = 4, k = 100),
      unit, queryVecs, k = 10)
    assert(rtop.count() === queryVecs.count() * 10)
    // deployed layout: codes partitioned by list id, pruned scan
    val work = java.nio.file.Files.createTempDirectory("readme-ivfpq")
    Ann.writeIvfPqPartitioned(resid, rcb, s"$work/ivfpq")
    val rhits = Ann.ivfAdcTopKPartitioned(spark, s"$work/ivfpq",
      ucents, rcb, queryVecs, nprobe = 4, k = 10)
    assert(rhits.groupBy("qid").count().count() === queryVecs.count())
  }

  test("retrieval quickstart: scoreFor / inverted / sharded inverted") {
    import graft.ir.{Index, Retrieval}
    val queries = {
      import spark.implicits._
      Retrieval.querySet
        .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
    }
    val work = java.nio.file.Files.createTempDirectory("readme-ir").toString
    val run = Retrieval.scoreFor(docs, queries,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    Index.writeInverted(docs, s"$work/inv", files = 4)
    val run2 = Index.scoreFromInverted(spark, s"$work/inv", queries,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    Index.writeInverted(docs, s"$work/invsh", files = 4, maxPostings = 16)
    val run3 = Index.scoreFromInverted(spark, s"$work/invsh", queries,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(key(run).nonEmpty)
    assert(key(run2) == key(run) && key(run3) == key(run))
  }

  test("README's declared-query count is SparkEntry.decls.size") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val stated = """`queries` \((\d+) declared""".r
      .findFirstMatchIn(readme).map(_.group(1).toInt)
    assert(stated.contains(SparkEntry.decls.size),
      s"README states $stated declared queries")
  }

  test("curation quickstart: gopher gate + DSIR weights") {
    val gated = TextMetrics.gopherRules(docs).filter(col("keep") === 1)
    assert(gated.count() > 0)
    val weights = Classify.dsirLogWeights(docs,
      Classify.labels(docs, Classify.targetLangExpr))
    assert(weights.count() === docs.count())
  }

  test("training-prep quickstart: BPE + epoch shards + MG top-k") {
    import graft.pipeline.{Bpe, Sharding, Sketches}
    // mirror the README (scale knobs sized for sf0.001)
    val merges = Bpe.train(docs, k = 8)
    val encoded = Bpe.encodeWords(Bpe.wordDict(docs), merges)
    assert(merges.nonEmpty && encoded.columns.contains("syms"))

    val epoch = 1
    val path = java.nio.file.Files
      .createTempDirectory("readme-epoch").toString
    Sharding.writeEpochShards(docs, "doc_id", seed = epoch,
      nShards = 4, path)
    assert(spark.read.parquet(path).count() === docs.count())

    val top = Sketches.topKTermsMg(docs, k = 10, capacity = 4096)
    assert(top.count() === 10)

    // the k >> 8 path: identical merges from the in-memory exact loop
    val merges32k = Bpe.trainLocal(docs, k = 8)
    assert(merges32k == merges)

    // temperature mix + its data-card report agree on the selection
    val mix = Sharding.temperatureSample(docs)
    val report = Sharding.temperatureReport(docs)
    val got = mix.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    report.select("lang", "n_sel").collect().foreach { r =>
      assert(got.getOrElse(r.getString(0), 0L) === r.getLong(1))
    }
  }

  test("training-prep quickstart: repeat budget, leakage split, feature hash") {
    import graft.pipeline.{Dedup, Sharding, TextMetrics}
    // mirror the README's mixing & splits snippet
    val plan = Sharding.repeatBudgetPlan(docs, targetDiv = 1)
    val reps = Sharding.repeatBudgetMix(docs, targetDiv = 1)
    assert(plan.columns.toSet.contains("capped") &&
      reps.columns.contains("rep"))
    val alloc = plan.agg(expr("sum(allocated)")).head().getLong(0)
    assert(reps.agg(expr("sum(rep)")).head().getLong(0) === alloc)

    val labels = Dedup.clusters(docs, Dedup.lshCandidates(docs))
    val split = Dedup.leakageSplit(labels)
    assert(split.columns.toSet ==
      Set("doc_id", "lbl", "fold", "split"))

    val fv = TextMetrics.featureHashVectors(docs, dim = 256)
    assert(fv.filter(col("j") < 0 || col("j") >= 256).isEmpty)
    assert(fv.filter(col("w") > 1.000001).isEmpty) // L2-normalized
  }

  test("curation quickstart: span-level decontamination") {
    import graft.text.TextOps
    val evalDocs = docs.filter(col("doc_id") < 20)
    val bench = TextOps.shingleRows(evalDocs, 5)
      .select(graft.functions.DetHash.h60(col("s")).as("sh")).distinct()
    val scrubbed = TextMetrics.scrubContaminated(
      docs.filter(col("doc_id") >= 20), bench)
    assert(scrubbed.count() ===
      docs.filter(col("doc_id") >= 20).count())
    assert(scrubbed.columns.toSeq ==
      Seq("doc_id", "clean_text", "n_kept", "n_removed"))
  }
}
