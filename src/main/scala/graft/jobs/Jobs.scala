package graft.jobs

import graft.GraftSession
import graft.ir.{AnchorExtractJob, CorpusStats, Feedback, Index, Retrieval}
import graft.sources.{Topics, TrecSgml, Warc}
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runnable job surface with CLI parity to the reference's entry
  * points (SURVEY §7.1 item 10): a user of `hadoop jar hadoop-ir.jar
  * <JobClass> in out …` runs `graft.jobs.Jobs <JobName> in out …`
  * instead. One linear Spark program replaces each MapReduce chain;
  * job-to-job handoff happens through files exactly as in the
  * reference (`test/test.sh` flow).
  *
  * Supported: AnchorExtract, TrecRun (KEYVAL|WARC), QueryTermCount,
  * TrecRunBaselines, WordCount, CollectionStats, MutualInfo,
  * IndexDocVectors, RunQueryIndex, IndexInverted, RunQueryInverted,
  * GenerateFeedbackQueries, RunQueryWeighted, RunQueryIndexWeighted
  * (the reference's feedback loop, sequential-scan or index-backed),
  * RunQueryKDE, RunQueryKDESweep (α-sweep eval report), DumpIndex,
  * DedupCorpus, SemDedupCorpus (embedding-cluster semantic dedup),
  * ExactSubstrDedup (duplicated-span excision, Lee et al. 2022),
  * CurateCorpus, DecontaminateCorpus, IncrementalDedup (persisted-
  * store admit cycle), EpochShards, TemperatureMix (materialized
  * α-flattened language mix + data-card report), TokenizeAndPack
  * (BPE-train → token ids → fixed-length sequences → epoch shards,
  * the tokenizer last mile), PrepareTrainingData
  * (the composed last mile, optionally store-participating),
  * SpamFilter, QueryStats, KBAFilter, TrecToMallet, TrecToParquet,
  * SeqToParquet, ParquetToSeq.
  */
object Jobs {

  val TopK = 1000 // reference top-k (TrecRun.java:158)

  /** Load a document collection: `warc:<path>`, `keyval:<path>` or
    * `trec:<path>` (SGML). → (doc_id, text)
    */
  def loadDocs(spark: SparkSession, spec: String): DataFrame = {
    import spark.implicits._
    spec.split(":", 2) match {
      case Array("warc", p) =>
        AnchorExtractJob.run(spark, p)
          .select(col("docid").as("doc_id"), col("anchortext").as("text"))
      case Array("keyval", p) =>
        Topics.readKeyval(spark, p).select("doc_id", "text")
      case Array("trec", p) =>
        TrecSgml.read(spark, p)
          .select(col("docno").as("doc_id"), col("text"))
      case Array("parquet", p) =>
        spark.read.parquet(p).select("doc_id", "text")
      case Array("seq", p) =>
        // legacy SequenceFile<Text,Text> corpora readable in place
        // (see seqToParquet for the one-time conversion path)
        spark.sparkContext
          .sequenceFile[org.apache.hadoop.io.Text, org.apache.hadoop.io.Text](p)
          .map { case (k, v) => (k.toString, v.toString) }
          .toDF("doc_id", "text")
      case Array("seqwarc", p) =>
        // the reference's spam-filtered corpus format:
        // SequenceFile<LongWritable, WritableWarcRecord>
        // (ClueWebSpamFilter.java:146 → ClueWebRunQueries.java:298).
        // Raw page content comes back as `text`; HTML→text is the
        // caller's explicit next step (Html.toText), matching the
        // reference's own post-read parse.
        graft.sources.SeqWarc.read(spark, p).select("doc_id", "text")
      case _ =>
        throw new IllegalArgumentException(
          s"input spec '$spec' must be warc:|keyval:|trec:|parquet:|seq:|seqwarc:<path>")
    }
  }

  /** Text sink. Partitioned (parallel) by default — the scale-safe
    * shape for corpus-sized outputs (vocabulary tables, anchor maps).
    * `merge = true` funnels through one task for the reference's
    * single-file layout: reserve it for outputs that are small BY
    * CONSTRUCTION (top-k run files, grid reports), never for anything
    * that grows with the corpus.
    */
  private def writeText(df: DataFrame, out: String, merge: Boolean,
                        gzip: Boolean = false): Unit = {
    val w = (if (merge) df.coalesce(1) else df).write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).text(out)
  }

  /** A job's one-line summary, written as a single text file at
    * `<out>_report` next to the job's main output.
    */
  private def writeReport(spark: SparkSession, out: String,
                          line: String): Unit = {
    import spark.implicits._
    writeText(Seq(line).toDF("value"), out + "_report", merge = true)
  }

  /** TREC run format: `qid Q0 docid rank score tag` (top-k per topic —
    * bounded, so the single-file merge is safe at any corpus size).
    */
  def writeRun(ranked: DataFrame, out: String, tag: String): Unit =
    writeText(ranked
      .select(concat_ws(" ", col("qid"), lit("Q0"), col("doc_id"),
        col("rank"), col("score"), lit(tag)).as("value")),
      out, merge = true)

  def anchorExtract(spark: SparkSession, warcIn: String, out: String,
                    merge: Boolean = false): Unit = {
    // the action site owns the persist: glue() scans its anchor input
    // twice (hub-totals pass + route-and-aggregate, its scaladoc'd
    // cost shape), and the anchor frame here is derived from the WARC
    // parse + HTML extraction — the job's most expensive stage, which
    // must not run twice. The lazy library composition (run / the
    // loadDocs("warc:") loader) can't scope a persist; this CLI can.
    val warc = graft.sources.Warc.read(spark, warcIn)
    val anchors = AnchorExtractJob.anchors(warc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeText(
      AnchorExtractJob.pages(warc)
        .join(AnchorExtractJob.glue(anchors,
          AnchorExtractJob.MaxAnchorBytes), Seq("url"))
        .select(concat_ws("\t", col("trecid"), col("url"),
          col("anchortext")).as("value")),
      out, merge, gzip = true)
    finally anchors.unpersist(blocking = false)
  }

  /** Run `body` with the loaded docs PERSISTED when the loader is
    * expensive — `warc:`, whose anchor-extract chain costs a WARC
    * parse + HTML extraction and is referenced by every branch of a
    * downstream scorer (review r18: trecRun over `warc:` re-ran the
    * extraction ~9× — 3 scorer branches × glue()'s documented 3-scan
    * shape — because the lazy loadDocs composition can't scope a
    * persist; these ACTION sites can, the anchorExtract idiom).
    * Cheap loaders (parquet/trec/keyval) pass through unpersisted —
    * caching them wastes executor memory against a columnar re-scan.
    */
  private def withDocs[T](spark: SparkSession, spec: String)
                         (body: DataFrame => T): T = {
    val heavy = spec.startsWith("warc:")
    val docs =
      if (heavy) loadDocs(spark, spec)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else loadDocs(spark, spec)
    try body(docs)
    finally if (heavy) docs.unpersist(blocking = false)
  }

  /** MIREX sequential-scan retrieval, LMno conjunctive
    * (`nl/utwente/mirex/TrecRun.java`).
    */
  def trecRun(spark: SparkSession, in: String, out: String,
              topics: String): Unit = withDocs(spark, in) { docs =>
    writeRun(
      Retrieval.scoreFor(docs, Topics.readPlain(spark, topics),
        Retrieval.lmnoPart, Retrieval.lmnoFinal, conjunctive = true, TopK),
      out, "graft-lmno")
  }

  /** Job 1 of the baselines chain: collection stats + per-query-term
    * df/cf → stats-augmented topic file
    * (`nl/utwente/mirex/QueryTermCount.java`). df/cf are
    * [[CorpusStats.termStats]] (ir03), 0 for a term not in the corpus.
    */
  def queryTermCount(spark: SparkSession, in: String, outTopics: String,
                     topics: String): Unit = {
    val docs = loadDocs(spark, in)
    // persisted: the collection-length agg and writeAugmented's collect
    // are two actions, and ReusedExchange only dedupes within one
    val tf = TextOps.termFreqs(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val q = Topics.readPlain(spark, topics)
        .groupBy("qid", "term").agg(count(lit(1)).as("qtf"))
      val stats = q.join(CorpusStats.termStats(tf), Seq("term"), "left")
        .select(col("qid"), col("term"), col("qtf"),
          coalesce(col("df"), lit(0L)).as("df"),
          coalesce(col("cf"), lit(0L)).as("cf"))
      val Array(len, nd) = dl.agg(sum("dl"), count(lit(1))).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      Topics.writeAugmented(stats, len, nd, outTopics)
    } finally tf.unpersist(blocking = false)
  }

  /** Job 2: four models from the augmented topic file, keys
    * `qid:model` (`nl/utwente/mirex/TrecRunBaselines.java`). Terms
    * with cf ≤ 0 are dropped (`TrecRunBaselines.java:129-130`). The
    * models are ir26's `Retrieval.baselineModels`, parts times qtf.
    */
  def trecRunBaselines(spark: SparkSession, in: String, out: String,
                       augTopics: String): Unit = {
    val ((len, nd), rows) = Topics.readAugmented(spark, augTopics)
    val qAug = rows.filter(col("cf") > 0).cache()
    try {
      val docs = loadDocs(spark, in)
      import Retrieval._
      val models = baselineModels.map { case (name, part, fin, conj) =>
        (name, s"qtf * ($part)", fin, conj) }
      // ONE corpus pass for all four models (the ir26 stack path of
      // Retrieval.scoreModels)
      val ranked = scoreModels(
          matchedWithStats(withDocLength(TextOps.termFreqs(docs)), qAug, len, nd),
          models, TopK)
        .withColumn("qid", concat_ws(":", col("qid"), col("model")))
      writeRun(ranked, out, "graft-baselines")
    } finally qAug.unpersist(blocking = false)
  }

  /** Word count with optional skip-pattern scrubbing (P12,
    * `edu/gslis/hadoop/WordCount.java:36-66`: configured regexes are
    * removed from the text before counting).
    */
  def wordCount(spark: SparkSession, in: String, out: String,
                skipPatterns: Seq[String] = Nil,
                merge: Boolean = false): Unit = {
    val docs = loadDocs(spark, in)
    val scrubbed = skipPatterns.foldLeft(docs) { (df, pat) =>
      df.withColumn("text", regexp_replace(col("text"), pat, " "))
    }
    // vocabulary-sized output → partitioned write by default.
    // Tokenizer is flag-selected (spark.graft.tokenizer=uax29 for
    // Lucene-analyzer parity; codegen'd regex default) — the reference
    // twin TrecWordCount.java:50-77 used StandardAnalyzer.
    writeText(TextOps.tokensSelected(spark, scrubbed)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .select(concat_ws("\t", col("term"), col("n")).as("value")),
      out, merge)
  }

  /** `#DOCS/#TERMS/#TOKENS` header ([[CorpusStats.collectionStats]],
    * ir04) + `term<TAB>df,cf` rows ([[CorpusStats.termStats]], ir03).
    */
  def collectionStats(spark: SparkSession, in: String, out: String,
                      merge: Boolean = false): Unit = {
    import spark.implicits._
    // persisted: the header action and the body write both read it
    val tf = TextOps.termFreqs(loadDocs(spark, in))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val h = CorpusStats.collectionStats(tf).head()
      val lines = CorpusStats.termStats(tf)
        .select(concat_ws("\t", col("term"),
          concat_ws(",", col("df"), col("cf"))).as("value"))
      // unmerged, the 3 header rows are their own (first) partition, so
      // part files concatenated in name order reproduce the layout
      writeText(
        Seq(s"#DOCS:${h.getLong(0)}", s"#TERMS:${h.getLong(1)}",
          s"#TOKENS:${h.getLong(2)}").toDF("value")
          .unionByName(lines),
        out, merge)
    } finally tf.unpersist(blocking = false)
  }

  /** `w1<TAB>w2<TAB>n11` lines of [[CorpusStats.pairCounts]] (ir09). */
  def mutualInfo(spark: SparkSession, in: String, out: String,
                 merge: Boolean = false): Unit =
    // pair-count output (quadratic-ish in vocabulary) → never a
    // single-task merge by default
    writeText(
      CorpusStats.pairCounts(TextOps.tokens(loadDocs(spark, in)).distinct())
        .select(concat_ws("\t", col("w1"), col("w2"), col("n11")).as("value")),
      out, merge)

  /** Temporal KDE re-ranked retrieval (`RunQueryKDEHBase`): Dirichlet
    * retrieval over a TREC-SGML collection, re-scored by a native
    * Gaussian KDE over each query's top-k `<EPOCH>`s.
    */
  def runQueryKde(spark: SparkSession, trecIn: String, out: String,
                  topics: String, k: Int = 100): Unit = {
    val sgml = TrecSgml.read(spark, trecIn).cache()
    try writeRun(graft.temporal.Kde.rescore(kdeCandidates(spark, sgml, topics, k))
      .withColumnRenamed("new_score", "score")
      .withColumnRenamed("new_rank", "rank"), out, "graft-kde")
    finally sgml.unpersist(blocking = false)
  }

  /** Dirichlet top-k over the SGML docs, each hit carrying its epoch
    * (0 when absent) — the input of both KDE jobs.
    */
  private def kdeCandidates(spark: SparkSession, sgml: DataFrame,
                            topics: String, k: Int): DataFrame =
    Retrieval.scoreFor(sgml.select(col("docno").as("doc_id"), col("text")),
        Topics.readPlain(spark, topics),
        Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, k)
      .join(sgml.select(col("docno").as("doc_id"),
        coalesce(col("epoch"), lit(0L)).as("ep")), Seq("doc_id"))

  /** The reference's full KDE job shape (`RunQueryKDEHBase.java:30,
    * 85-118`): Dirichlet retrieval, per-query KDE over the top-k
    * epochs computed ONCE, α swept over 0.1..0.9 re-mixing that
    * density, each (query, α) ranking evaluated against qrels —
    * output lines `qid:α<TAB>map,p10,p20` (the reference reducer's
    * exact report format, its alphas array verbatim).
    */
  def runQueryKdeSweep(spark: SparkSession, trecIn: String, out: String,
                       topics: String, qrelsPath: String,
                       k: Int = 100): Unit = {
    import graft.eval.{Eval, Qrels}
    val sgml = TrecSgml.read(spark, trecIn).cache()
    try {
      val grid = spark.range(1, 10)
        .select((col("id").cast("double") / 10).as("alpha"))
      val sweep = graft.temporal.Kde.rescoreSweep(
        kdeCandidates(spark, sgml, topics, k), grid)
      // evaluate each (qid, α) ranking independently: α becomes part of
      // the key, qrels replicated per α (tiny × 9)
      val res = sweep.select(
        concat_ws(":", col("qid"), col("alpha")).as("qid"),
        col("doc_id"), col("new_rank").as("rank"))
      val qrelsX = Qrels.read(spark, qrelsPath)
        .crossJoin(broadcast(grid))
        .select(concat_ws(":", col("qid"), col("alpha")).as("qid"),
          col("doc_id"), col("rel"))
      // one pass for both cutoffs (rel@k is the only k-dependent
      // aggregate); the former two metrics() calls re-executed the
      // whole retrieval + KDE-sweep DAG per cutoff
      Eval.metricsAtKs(res, qrelsX, Seq(10, 20))
        .select(col("qid"), col("ap"), col("p_at_10").as("p10"),
          col("p_at_20").as("p20"))
        .orderBy("qid")
        .select(concat_ws("\t", col("qid"),
          concat_ws(",", round(col("ap"), 6), round(col("p10"), 6),
            round(col("p20"), 6))).as("value"))
        .coalesce(1).write.mode("overwrite").text(out)
    } finally sgml.unpersist(blocking = false)
  }

  /** Format converters (`TrecToMallet` / `TrecToSequence` analogues;
    * Parquet is the SequenceFile replacement per SURVEY §2.1 S12).
    */
  def trecToMallet(spark: SparkSession, trecIn: String, out: String,
                   merge: Boolean = false): Unit =
    // one line per document → corpus-sized → partitioned by default
    writeText(TrecSgml.read(spark, trecIn)
      .select(concat_ws("\t", col("docno"), lit("doc"),
        regexp_replace(col("text"), "[\\n\\r\\t]+", " ")).as("value")),
      out, merge)

  def trecToParquet(spark: SparkSession, trecIn: String, out: String): Unit =
    TrecSgml.read(spark, trecIn).write.mode("overwrite").parquet(out)

  /** SequenceFile migration glue (SURVEY §2.1 S6/S12). The reference
    * stores corpora as `SequenceFile<Text docid, Text content>`
    * (`TrecToSequence.java:87-90`, read back at
    * `ClueWebRunQueries.java:298`); this engine's canonical format is
    * Parquet, so migration is a one-time conversion. The read is
    * splittable (SequenceFile sync markers), so a large legacy corpus
    * converts with full parallelism; Text values are copied out
    * immediately because Hadoop RecordReaders reuse Writable buffers.
    */
  def seqToParquet(spark: SparkSession, seqIn: String, out: String): Unit = {
    import spark.implicits._
    spark.sparkContext
      .sequenceFile[org.apache.hadoop.io.Text, org.apache.hadoop.io.Text](seqIn)
      .map { case (k, v) => (k.toString, v.toString) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(out)
  }

  /** Inverse glue: (doc_id, text) Parquet → `SequenceFile<Text, Text>`
    * for interop with tooling that still consumes the reference's
    * layout. Stays partitioned — one SequenceFile part per task.
    */
  def parquetToSeq(spark: SparkSession, parquetIn: String, out: String): Unit =
    // cast doc_id to string FIRST: engine-written corpora carry int64
    // doc_ids (the testdata tables do), and getString on a LongType
    // row throws ClassCastException mid-job; na.fill also only fills
    // string columns, so the cast is what makes the fill effective
    spark.read.parquet(parquetIn)
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .na.fill("", Seq("doc_id", "text"))
      .rdd.map(r => (r.getString(0), r.getString(1)))
      .saveAsSequenceFile(out)

  /** RM3 feedback-query generation (the reference's
    * `GenerateFeedbackQueriesHBase` → weighted-topic file → rerun
    * loop, §3.3): [[Feedback.rm1]] and [[Feedback.rm3]] (ir18/ir19,
    * weights not rounded) in the weighted-topic format `RunQueryHBase`
    * consumes.
    */
  def generateFeedbackQueries(spark: SparkSession, in: String, out: String,
                              topics: String, fbDocs: Int = 10,
                              fbTerms: Int = 10, lambda: Double = 0.5): Unit =
                              withDocs(spark, in) { docs =>
    val q = Topics.readPlain(spark, topics)
    val rm3 = Feedback.rm3(Feedback.rm1(docs, q, fbDocs), q, fbTerms, lambda)
    // weighted-topic format: qid<TAB>term:w term:w … (term-sorted so the
    // emitted file is byte-stable across runs/partitionings)
    rm3.groupBy("qid")
      .agg(concat_ws(" ", array_sort(collect_list(
        concat_ws(":", col("term"), col("w3"))))).as("tw"))
      .select(concat_ws("\t", col("qid"), col("tw")).as("value"))
      .coalesce(1).write.mode("overwrite").text(out)
  }

  /** Weighted-topic retrieval (`RunQueryHBase` consuming feedback
    * queries): per-term weights multiply Dirichlet contributions.
    */
  def runQueryWeighted(spark: SparkSession, in: String, out: String,
                       weightedTopics: String): Unit =
    withDocs(spark, in) { docs =>
      writeRun(
        Retrieval.scoreFor(docs,
          Topics.readWeighted(spark, weightedTopics),
          s"w * (${Retrieval.lmdirPart})", Retrieval.lmdirFinal,
          conjunctive = false, TopK),
        out, "graft-rm3")
    }

  /** The reference's feedback LOOP closed through the INDEX path
    * (`GenerateFeedbackQueriesHBase` → weighted topic file →
    * `RunQueryHBase.java:138-161`, which scores from the HBase index,
    * not a corpus rescan): weighted retrieval over the materialized
    * doc-vector index. With [[generateFeedbackQueries]] +
    * [[Index.write]] this reproduces the reference's multi-job cycle
    * end-to-end (JobsSpec round-trip).
    */
  def runQueryIndexWeighted(spark: SparkSession, idx: String, out: String,
                            weightedTopics: String): Unit =
    writeRun(
      Index.scoreFromIndex(Index.load(spark, idx),
        Topics.readWeighted(spark, weightedTopics),
        s"w * (${Retrieval.lmdirPart})", Retrieval.lmdirFinal,
        conjunctive = false, TopK),
      out, "graft-rm3-idx")

  /** Index inspection, `s` form (reference `DumpIndexHBase.java:21-41`):
    * the documents/terms/tokens triple the reference point-gets from its
    * `#collstats` HBase row. Here the index IS the doc-vector parquet:
    * [[CorpusStats.collectionStats]] (ir04) over its exploded vectors,
    * one aggregate and no full-text rescan (every indexed doc holds a
    * token, so n_docs is the row count). One 3-line file, reference
    * layout.
    */
  def dumpIndexStats(spark: SparkSession, idx: String, out: String): Unit = {
    import spark.implicits._
    val h = CorpusStats.collectionStats(Index.load(spark, idx)
      .select(col("doc_id"), explode(col("dv")).as(Seq("term", "tf")))).head()
    writeText(
      Seq(s"documents: ${h.getLong(0)}", s"terms: ${h.getLong(1)}",
        s"tokens: ${h.getLong(2)}").toDF("value"),
      out, merge = true)
  }

  /** Index inspection, `dv` form (reference `DumpIndexHBase.java:43-62`):
    * one document's term vector as `term count` lines. The reference
    * deserializes a FeatureVector from an HBase point get and prints
    * Double weights; here the doc_id filter is pushed to the parquet
    * scan, but the index write is hash-partitioned by doc_id and
    * unsorted, so row-group min/max stats rarely exclude a group and
    * the scan reads most of the index. Counts print through the same
    * Double formatting ("the 3.0").
    * Term-sorted — the reference iterates an unordered Set; sorting
    * makes the dump deterministic without changing its contents.
    */
  def dumpIndexDocVector(spark: SparkSession, idx: String, docno: String,
                         out: String): Unit =
    writeText(
      Index.load(spark, idx)
        .filter(col("doc_id").cast("string") === docno)
        .select(explode(col("dv")).as(Seq("term", "tf")))
        .orderBy("term")
        .select(concat_ws(" ", col("term"),
          col("tf").cast("double").cast("string")).as("value")),
      out, merge = true)

  /** The benchmark k-gram hash set every decontamination path scrubs
    * or drops against — ONE definition so the standalone job, the
    * composed job, and any future caller can't drift apart.
    */
  def benchShingleHashes(spark: SparkSession, benchSpec: String,
                         k: Int): DataFrame =
    TextOps.shingleRows(loadDocs(spark, benchSpec), k)
      .select(graft.functions.DetHash.h60(col("s")).as("sh")).distinct()

  /** Shared core of the admit cycle (used by [[incrementalDedup]] and
    * the streaming twin `NearDupStream.storeAdmitStream`): verdicts
    * for `batch` against the persisted store; with `admit`, novel
    * signatures append to the store and novel (doc_id, text) rows to
    * the corpus directory. The verdict frame is MATERIALIZED via an
    * eager localCheckpoint before any append: its plan reads the very
    * files the appends mutate, and a plain persist is NOT enough — the
    * append's commit refreshes the written path, which cascades a cache
    * invalidation through every plan referencing it and silently
    * recomputes the verdicts against the already-mutated store (the
    * observed failure: a batch doc matching its own just-admitted
    * signature). The checkpoint is RDD-backed; no path refresh can
    * touch it.
    *
    * Sub-shingle docs (fewer tokens than one MinHash shingle, so
    * [[Dedup.minhashWide]] emits no signature) come back
    * `signed = false` and are NEVER admitted: the near-dup system
    * cannot attest their novelty, and silently appending unverifiable
    * rows re-admits the same tiny doc on every recurrence — the
    * corpus grows a duplicate per sighting that no later batch can
    * flag. Callers who care about tiny docs route them through an
    * exact-hash dedup (`Dedup.exactKeepers`) instead; the verdict
    * frame makes the hand-off explicit rather than silent.
    */
  def admitCycle(spark: SparkSession, batch: DataFrame, sigStore: String,
                 corpusDir: String, threshold: Double,
                 admit: Boolean,
                 preSigned: DataFrame = null): DataFrame = {
    import graft.pipeline.Dedup
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpus = spark.read.parquet(corpusDir).select("doc_id", "text")
    // preSigned: the batch's WIDE signatures when the caller already
    // computed them (prepareTrainingData signs once for its internal
    // near-dedup AND this check) — must cover exactly `batch`'s
    // signable docs
    val batchSigs = (if (preSigned != null) preSigned
      else Dedup.minhashWide(batch)).persist(MEMORY_AND_DISK)
    // Replay idempotence: a doc from a partially-committed earlier
    // run of this very batch never candidates against its stored copy
    // OR its stored batch-mates (incrementalNearDupsFromSigs anti-
    // joins the stored band index against the batch's full id set —
    // Dedup.scala's r12-advice closure; there is deliberately NO
    // nid =!= oid filter left, the anti-join subsumes it) — a redo's
    // verdict rows are identical to an uncrashed run's, and its
    // re-append below is absorbed by the distinct()s downstream.
    val verdicts = Dedup.incrementalNearDupsFromSigs(
      spark.read.parquet(sigStore), corpus, batchSigs, batch, threshold)
      .join(batchSigs.select("doc_id").withColumn("signed", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("signed", coalesce(col("signed"), lit(false)))
      .localCheckpoint() // eager; RDD-backed — see scaladoc
    try {
      if (admit) {
        val novel = verdicts
          .filter(col("dup_of").isNull && col("signed")).select("doc_id")
        // Append ORDER is the crash-safety argument (plain parquet
        // dirs have no two-path transaction): corpus text FIRST, then
        // signatures. A doc becomes visible to future band joins only
        // once its text is present, so a crash between the writes
        // leaves harmless orphan text, never an unverifiable orphan
        // signature (which would make a later real duplicate pass as
        // novel). Retries that re-append are absorbed downstream:
        // verification distinct()s shingles and candidates, so
        // duplicate store rows change no verdict. For exactly-once
        // stores, point sigStore/corpusDir at a transactional table.
        // Compaction lease check FIRST (r14 cooperative exclusion):
        // an append attempted while compactStore holds either store
        // is refused here, before any write — the verdicts are
        // already checkpointed, so the caller can retry the admit
        // after the compaction without re-scoring the batch.
        requireNoCompactLease(spark, corpusDir, "corpus")
        requireNoCompactLease(spark, sigStore, "signature store")
        batch.join(novel, Seq("doc_id"), "left_semi")
          .select("doc_id", "text")
          .write.mode("append").parquet(corpusDir)
        batchSigs.join(novel, Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(sigStore)
      }
      verdicts
    } finally { batchSigs.unpersist(); () }
  }

  /** The production incremental-dedup cycle as one job: sign the
    * arriving batch, check it against the PERSISTED signature store
    * (band join on 16-long signatures — the corpus text is only read
    * for the band-candidate docs), write per-doc verdicts, and — with
    * `admit` — complete the loop the README describes: append the
    * NOVEL docs' signatures to the store and their (doc_id, text)
    * projection to the corpus, so the next batch is checked against
    * them without any corpus re-processing. Store and corpus must be
    * parquet directories for the admit append.
    */
  def incrementalDedup(spark: SparkSession, sigStore: String,
                       corpusIn: String, batchIn: String, out: String,
                       admit: Boolean, threshold: Double = 0.5): Unit = {
    require(corpusIn.startsWith("parquet:"),
      s"the admit cycle reads/appends a parquet corpus dir, got $corpusIn")
    val batch = loadDocs(spark, batchIn)
    val verdicts = admitCycle(spark, batch, sigStore,
      corpusIn.stripPrefix("parquet:"), threshold, admit)
    verdicts.write.mode("overwrite").parquet(out)
    val (nBatch, nDup, nAdm) =
      (verdicts.count(), verdicts.filter(col("dup_of").isNotNull).count(),
        verdicts.filter(col("dup_of").isNull && col("signed")).count())
    writeReport(spark, out,
      s"batch=$nBatch dup=$nDup novel=${nBatch - nDup}" +
      s" admitted=${if (admit) nAdm else 0} threshold=$threshold")
  }

  /** Bounds the small-file growth of the admit cycle's append-only
    * stores: [[admitCycle]] and [[prepareTrainingData]] append a few
    * parquet files to `sigStore`/`storeCorpus` per batch, so months of
    * micro-batches turn each store into a many-small-files table —
    * the same slow leak the r11 verdict-ledger partitioning fixed for
    * the ledger, closed here for the stores. Rewrites the dir to
    * ~`targetFileBytes`-sized files with a NARROW coalesce (no
    * shuffle — compaction is a layout operation), then swaps:
    * write `_compact_tmp` → rename store → `_compact_old` → rename
    * tmp → store → delete old. Plain filesystems have no atomic
    * two-directory swap; a crash between the renames leaves
    * `_compact_old` present and the store path missing, and the next
    * run recovers by renaming it back (done on entry here). Rows are
    * preserved as-is, duplicate retry rows included — they change no
    * verdict (admitCycle's contract), and dropping them would make
    * compaction a semantic operation instead of a layout one.
    *
    * Concurrent-append guard (r12 verdict): single-writer discipline
    * is still the operating contract, but a violation can no longer
    * drop rows SILENTLY. The store's data-file set is snapshotted
    * before the compacted copy is written; after the store is renamed
    * aside, any file that appeared since (a concurrent admit append
    * that landed pre-swap) is detected, the store is renamed back
    * intact — append included — and the job fails loudly. An append
    * that lands AFTER the store was renamed aside recreates the store
    * path; every directory move here goes through a guarded swap
    * (Hadoop rename onto an existing directory does NOT fail — it
    * returns true and NESTS the source inside the destination,
    * measured on RawLocalFileSystem — so the guard pre-checks, then
    * detects the nested signature post-rename, un-nests and refuses).
    * A `_compact_done` marker distinguishes the benign
    * crash-after-swap leftover (stale `_compact_old`, cleaned on
    * entry) from the refused states; a crash between the final swap
    * and the marker itself leaves the refused state too, so its
    * message spells out BOTH possible layouts and warns against
    * blind merging. For lock-free concurrent compaction point the
    * stores at a transactional table format.
    *
    * Cooperative exclusion (r14, upgrading the r13 detect-and-refuse):
    * a `_compact_lease` file is created EXCLUSIVELY at entry and the
    * appenders ([[admitCycle]], and through it the streaming twin)
    * check it BEFORE writing — an append attempted mid-compaction is
    * refused up front instead of compaction detecting and aborting
    * after the fact. The lease is released on success and on every
    * abort that leaves the store append-safe; it is KEPT (blocking
    * appends) on the two states that need operator reconciliation,
    * and by a crashed compactor — the entry check then tells the
    * operator to verify and delete. The check-then-append window
    * means the lease alone is not a lock; the snapshot
    * detect-and-refuse above stays as the backstop, so the layering
    * is: lease prevents the race, snapshot guarantees no silent loss
    * if something bypasses it. An append that slipped through the
    * window (passed the lease check before the lease existed) no
    * longer costs an operator re-run: the store is restored and the
    * compaction RETRIES with a fresh snapshot that includes the
    * append, up to `appendRetries` times (r15) — only a writer
    * appending past the lease protocol exhausts the retries into the
    * loud abort.
    *
    * FILESYSTEM requirement: the lease rests on
    * `FileSystem.create(lease, overwrite = false)` being ATOMIC — true
    * on HDFS and local filesystems, the only ones this build can reach
    * (it ships no object-store client). An object store without an
    * atomic create-if-absent would make the lease advisory; the
    * snapshot backstop underneath still refuses before any silent
    * loss.
    */
  def compactStore(spark: SparkSession, path0: String,
                   targetFileBytes: Long = 512L << 20,
                   beforeSwap: () => Unit = () => (),
                   appendRetries: Int = 2): Unit = {
    import org.apache.hadoop.fs.Path
    // normalize trailing slashes ONCE: the side-path strings below are
    // raw concats, and "/store/" would put every marker INSIDE the
    // store dir instead of beside it (and diverge from an appender's
    // slash-free lease path)
    val path = path0.replaceAll("/+$", "")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(path + "_compact_old")
    val tmp = new Path(path + "_compact_tmp")
    val done = new Path(path + "_compact_done")
    // Directory moves must FAIL when the destination exists — but
    // Hadoop's FileSystem.rename onto an existing directory SUCCEEDS
    // and NESTS the source inside it (measured on RawLocalFileSystem:
    // returns true, dst/src-name appears). A concurrent writer
    // recreating the store path in the microseconds between our
    // exists-check and the rename would otherwise get the compacted
    // copy nested under its append and the pre-compaction rows
    // deleted as "stale". Guard both sides: pre-check, then detect
    // the nested signature after the rename, un-nest, and refuse.
    def swapIn(src: Path, dst: Path, what: String): Boolean = {
      if (fs.exists(dst)) return false
      require(fs.rename(src, dst),
        s"compactStore: $what rename failed: $src -> $dst")
      val nested = new Path(dst, src.getName)
      if (fs.exists(nested)) { // dst was recreated mid-rename: nested
        require(fs.rename(nested, src),
          s"compactStore: un-nest failed: $nested -> $src")
        return false
      }
      true
    }
    // Cooperative-exclusion lease FIRST, before the entry recovery
    // below mutates anything (review r14): to a second entrant, a
    // LIVE compaction mid-window (store swapped aside, swap-in
    // pending) is indistinguishable from a crash — acquired any
    // later, the entrant would "crash-recover" the live run's
    // swap-aside out from under it before hitting the lease. A
    // crashed compactor leaves its lease deliberately: the operator
    // verifies no compactor is live, deletes the lease, re-runs, and
    // THIS block then self-heals the crash state under a fresh lease.
    val lease = acquireCompactLease(fs, path)
    // keepLease: the reconcile-needed failure states below leave the
    // lease IN PLACE so appends stay blocked until the operator
    // resolves them; every other exit (success or append-safe abort/
    // refusal) releases it
    var keepLease = false
    try {
    if (fs.exists(old) && !fs.exists(p)) {
      if (!swapIn(old, p, "crash recovery")) {
        keepLease = true // reconciliation required: keep appends blocked
        throw new IllegalStateException(
          s"compactStore: crash recovery found $path recreated " +
            s"concurrently; pre-compaction rows remain at $old — stop " +
            s"the writer and reconcile")
      }
    } else if (fs.exists(old) && fs.exists(done)) {
      // crash after the swap completed, before cleanup: old is a
      // stale pre-compaction copy of rows the live store already has
      fs.delete(old, true); fs.delete(done, false)
    } else require(!fs.exists(old),
      s"compactStore: $old AND $path both exist without a completed " +
        s"swap. EITHER a concurrent append recreated the store " +
        s"mid-swap (then $old holds the pre-compaction rows and $path " +
        s"only the append) OR the process crashed between the final " +
        s"swap and its done marker (then $path is the full compacted " +
        s"store and $old a redundant copy). Nothing was deleted; " +
        s"inspect row counts before reconciling — do NOT blindly " +
        s"merge, the second case would duplicate every row")
    if (fs.exists(done)) fs.delete(done, false)
    require(fs.exists(p), s"compactStore: no store at $path")
    // FLAT stores only (sigStore/storeCorpus). A partitioned dataset
    // (e.g. the batch_id= verdicts ledger) would silently flatten:
    // the partition column becomes a data column, the layout every
    // reader expects disappears, and side files like the ledger's
    // _COMMITTED replay markers are dropped. Fail fast instead.
    val partDirs = fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    require(partDirs.isEmpty,
      s"compactStore: $path is PARTITIONED (${partDirs.head.getPath.getName}, " +
        s"...); compaction would flatten the layout and drop partition " +
        s"side files — compact flat stores only")
    // snapshot the data-file set FIRST each attempt: any file that
    // appears after this point is a concurrent append the compacted
    // copy may miss
    def dataFiles(dir: Path): Set[String] = fs.listStatus(dir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSet
    // Bounded RETRY on the check-then-append window (r15, the r14
    // verdict's optional hardening): with the lease held, admitCycle
    // refuses every NEW append — the only appends that can still land
    // are the finitely many in-flight ones that passed the lease check
    // before the lease existed. Detecting one used to abort and
    // require an operator re-run; now the store is restored, the
    // in-flight append drains, and the compaction RE-SNAPSHOTS (the
    // append is inside the next copy) — up to `appendRetries` times.
    // A writer that keeps appending past the lease (a protocol
    // violation) exhausts the retries and gets the same loud abort as
    // before, rows intact.
    var attempt = 0
    var finished = false
    while (!finished) {
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val snapshot = dataFiles(p)
    val bytes = fs.getContentSummary(p).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue.toLong).toInt
    val df = spark.read.parquet(path)
    // coalesce can only MERGE partitions; when the store's existing
    // files are larger than the target, n exceeds the scan's partition
    // count and coalesce(n) is a silent no-op — fall back to a full
    // repartition so targetFileBytes bounds splitting too (r12 advice)
    val parts = df.rdd.getNumPartitions
    // strict >: at n == parts coalesce is already the right no-op —
    // repartition would round-robin-shuffle an already-compact store
    (if (n > parts) df.repartition(n) else df.coalesce(n))
      .write.mode("overwrite").parquet(tmp.toString)
    beforeSwap() // test seam: simulate a concurrent append mid-window
    // the swap-aside goes through the SAME nested-signature guard as
    // every other move here (r13 advice): a second compactor racing
    // past the entry checks could have created _compact_old in the
    // window since, and a bare rename onto it would SUCCEED and NEST
    // the live store inside — after which dataFiles(old) and the
    // restore logic misread the layout. swapIn pre-checks, detects the
    // nested signature, un-nests (store back at p, intact), and we
    // refuse loudly: a single-writer violation stays loud, not nested.
    if (!swapIn(p, old, "swap-aside")) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"compactStore: $old appeared concurrently during the " +
          s"compaction (a second compactor racing?); store left " +
          s"untouched at $path, compacted copy discarded. Ensure a " +
          s"single compactor, dispose of the foreign $old (the " +
          s"on-entry both-exist check refuses while it remains), " +
          s"then re-run")
    }
    val appended = dataFiles(old) -- snapshot
    if (appended.nonEmpty) {
      // a concurrent append landed while the compacted copy was being
      // written: it is NOT in tmp. Restore the store untouched (the
      // append survives), then retry with a fresh snapshot — or, once
      // the retries are exhausted, fail loudly. Never drop rows
      // silently.
      fs.delete(tmp, true)
      if (!swapIn(old, p, "abort-restore")) {
        keepLease = true // reconciliation required: keep appends blocked
        throw new IllegalStateException(
          s"compactStore: concurrent append detected AND the store " +
            s"path was recreated during the abort; pre-compaction rows " +
            s"(appends included) remain at $old — stop the writer and " +
            s"reconcile")
      }
      if (attempt < appendRetries) {
        attempt += 1
        // LOUD absorb (review r15): a lease-bypassing writer (e.g. a
        // diverged lease path, which disables the exclusion without
        // any error) would otherwise be silently absorbed every cycle
        // and only surface as a mystery abort on the run where it
        // finally out-raced the retries
        System.err.println(
          s"[compactStore] concurrent append detected " +
            s"(${appended.size} new file(s), e.g. ${appended.head}); " +
            s"store restored, re-snapshotting (retry $attempt of " +
            s"$appendRetries). If this repeats every compaction, a " +
            s"writer is appending past the lease — check its lease " +
            s"path matches $lease")
        // Drain-wait BEFORE the next full copy (r15 advice item 4):
        // each retry re-reads and rewrites the whole store, so a slow
        // BURST of in-flight appends could burn every retry (and 3x
        // the compaction I/O) while still mid-burst. Poll the file
        // set until it is stable across one backoff interval (bounded
        // polls — a writer violating the lease keeps mutating forever
        // and must still reach the loud abort, not spin here).
        var last = dataFiles(p)
        var polls = 0
        var stable = false
        while (!stable && polls < 10) {
          Thread.sleep(100L * attempt)
          val now = dataFiles(p)
          stable = now == last
          last = now
          polls += 1
        }
        if (!stable) System.err.println(
          s"[compactStore] file set still changing after $polls " +
            s"drain polls; proceeding to re-snapshot anyway (retry " +
            s"$attempt)")
        // the restore changed the file set back; bust the session's
        // shared file-status cache before the re-read re-snapshot
        spark.catalog.refreshByPath(path)
      } else throw new IllegalStateException(
        s"compactStore: concurrent append detected (${appended.size} " +
          s"new file(s) in $path since the compaction read, e.g. " +
          s"${appended.head})" +
          (if (appendRetries > 0) s" after $appendRetries retries —" +
            s" a writer is appending past the lease" else "") +
          s"; store restored untouched — stop the writer and re-run")
    } else {
    if (!swapIn(tmp, p, "swap-in")) {
      // an append recreated the store path AFTER it was renamed
      // aside: its rows exist only at p. Leave everything in place —
      // the on-entry (old && p && no marker) state refuses loudly.
      keepLease = true // reconciliation required: keep appends blocked
      throw new IllegalStateException(
        s"compactStore: the store path was recreated by a concurrent " +
          s"writer after the swap-aside; pre-compaction rows remain " +
          s"at $old, the concurrent append at $path, the compacted " +
          s"copy at $tmp — stop the writer and reconcile")
    }
    fs.create(done, true).close() // swap complete: old is now stale
    fs.delete(old, true)
    fs.delete(done, false)
    // this session's shared file-status cache may still list the
    // pre-swap files; drop it so the next read sees the compact layout
    spark.catalog.refreshByPath(path)
    finished = true
    }
    }
    } finally {
      if (!keepLease) fs.delete(lease, false)
    }
  }

  /** The ONE place the lease path is derived (review r14): raw
    * `dir + suffix` concat would silently diverge between the
    * compactor and an appender configured with a trailing slash —
    * Path("/store/" + s) is a file INSIDE the store while
    * Path("/store" + s) is its sibling — and a diverged lease path
    * disables the exclusion without any error.
    */
  private def compactLeasePath(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      dir.replaceAll("/+$", "") + "_compact_lease")

  /** Acquire the compaction lease: one `create(overwrite = false)` —
    * exact mutual exclusion wherever create-if-absent is atomic (HDFS,
    * local). The lease file records who holds it, for the operator
    * messages; a crashed compactor's lease stays and blocks both
    * appenders and later compactors until the operator deletes it.
    */
  private def acquireCompactLease(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): org.apache.hadoop.fs.Path = {
    val info = s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      s"pid=${ProcessHandle.current.pid} at=${java.time.Instant.now}"
    val lease = compactLeasePath(path)
    val leaseOut =
      try fs.create(lease, false)
      catch {
        case e: java.io.IOException =>
          if (fs.exists(lease)) throw new IllegalStateException(
            s"compactStore: a compaction lease exists at $lease — " +
              s"another compaction is in flight, or a previous one " +
              s"crashed mid-run. Verify no compactor is live, inspect " +
              s"the store, then delete the lease and re-run", e)
          else throw new java.io.IOException(
            s"compactStore: could not create the compaction lease " +
              s"$lease (no lease present — a transient filesystem " +
              s"error, not a held lease)", e)
      }
    try leaseOut.write(info.getBytes("UTF-8")) finally leaseOut.close()
    lease
  }

  /** The appender half of the compaction lease (see [[compactStore]]):
    * refuse an admit append up front while a compaction holds the
    * store — wait-or-fail BEFORE writing, rather than compaction
    * detecting the append and aborting after. A crashed compaction
    * leaves the lease deliberately; the message routes the operator.
    */
  private[graft] def requireNoCompactLease(spark: SparkSession,
                                           dir: String,
                                           what: String): Unit = {
    val lease = compactLeasePath(dir)
    val fs = lease.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(lease)) {
      val info =
        try {
          val in = fs.open(lease)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } catch { case _: java.io.IOException => "unreadable" }
      throw new IllegalStateException(
        s"admit append refused: a compaction lease is held on the " +
          s"$what dir $dir ($info). Retry after the compaction " +
          s"completes; a crashed compaction leaves the lease for the " +
          s"operator to verify and delete ($lease)")
    }
  }

  /** The whole last mile in one job: corpus in → training examples
    * out, composed from the already-gated stages — Gopher gate, exact
    * + near dedup, span-surgical benchmark decontamination, overlap
    * chunking into `win`-token examples, example-level dedup on the
    * window fingerprint, and the reproducible `shard=` epoch layout.
    * Emits a funnel report (the px66 data-card numbers for THIS run)
    * next to the output. Per-stage job descriptions make the composed
    * run attributable phase-by-phase (the curateCorpus convention);
    * doc-level survivors persist MEMORY_AND_DISK across their multiple
    * consumer actions — at real scale each stage is a written parquet
    * artifact instead.
    *
    * Signature-store hand-off (`sigStore`/`storeCorpus`, both-or-
    * neither): with a store, the composed job PARTICIPATES in the
    * [[admitCycle]] instead of being a one-shot — after its own
    * internal near-dedup, survivors are checked against the persisted
    * MinHash store (docs near-dup'ing an already-admitted doc drop at
    * the new `store_dedup` funnel stage), and the remaining novel
    * survivors' signatures + text are ADMITTED, so the next prep run
    * or streaming batch is checked against this run's output without
    * re-processing it. A missing store bootstraps empty (first prep
    * run seeds the cycle); the append ordering/crash-safety contract
    * is admitCycle's. Without a store the job behaves exactly as
    * before — one-shot prep, nothing persisted beyond `out`.
    *
    * The store holds NEAR-DEDUP SURVIVORS (pre-decontamination):
    * dedup semantics want future dups of a doc flagged even when that
    * doc's benchmark-contaminated spans were later scrubbed from the
    * training output — the store is the "content we have seen"
    * ledger, not the training-example set.
    *
    * Boundary (inherited from [[admitCycle]]'s sub-shingle policy):
    * docs below the MinHash shingle resolution carry no signature,
    * are kept in THIS run's output (they passed every in-run gate,
    * including the in-run exact dedup) but are never admitted — so
    * the cross-RUN store check does not apply to them. A tiny doc
    * recurring across runs re-enters each run's output; route tiny
    * docs through an exact-hash ledger upstream if that matters.
    */
  def prepareTrainingData(spark: SparkSession, in: String, out: String,
                          benchSpec: String, seed: Int, nShards: Int,
                          win: Int = 128, stride: Int = 64,
                          sigStore: String = null,
                          storeCorpus: String = null,
                          storeThreshold: Double = 0.5): Unit = {
    import graft.pipeline.{Dedup, Sharding, TextMetrics}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    require((sigStore == null) == (storeCorpus == null),
      "sigStore and storeCorpus come together (the store's band check" +
        " verifies candidates against the admitted corpus text)")
    def stage(n: String): Unit =
      spark.sparkContext.setJobDescription(s"prep:$n")
    val docs0 = loadDocs(spark, in)
    stage("input_count")
    val n0 = docs0.count()
    val gated = docs0
      .join(TextMetrics.gopherRules(docs0).filter(col("keep") === 1)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .persist(MEMORY_AND_DISK)
    stage("gopher")
    val n1 = gated.count()
    val exact = gated
      .join(Dedup.exactKeepers(gated), Seq("doc_id"), "left_semi")
      .persist(MEMORY_AND_DISK)
    stage("exact_dedup")
    val n2 = exact.count()
    stage("near_dedup") // set BEFORE construction: clusters checkpoint eagerly
    // the corpus is SIGNED ONCE: the same wide-signature frame feeds
    // the internal near-dedup edges and (store path) the admit check +
    // store append — no second minhash pass over the survivors
    val exactSigs = Dedup.minhashWide(exact).persist(MEMORY_AND_DISK)
    val nearInternal = exact
      .join(Dedup.nearDupKeepersFromSigs(exactSigs, exact),
        Seq("doc_id"), "left_semi")
      .persist(MEMORY_AND_DISK)
    // every action from here on runs INSIDE the try: the store branch
    // (admitCycle — external store paths, the job's most failure-prone
    // step) used to sit outside it, so a store failure leaked four
    // corpus-scale persists into a long-lived session
    var near = nearInternal
    try {
      val n3 = nearInternal.count()
      // store hand-off: check internal survivors against the persisted
      // signature store, drop store-dups, admit the novel rest
      near = if (sigStore == null) nearInternal else {
        stage("store_dedup")
        val fs = new org.apache.hadoop.fs.Path(sigStore)
          .getFileSystem(spark.sessionState.newHadoopConf())
        // bootstrap EACH missing artifact independently (empty frames
        // with the right schemas), corpus FIRST — matching admitCycle's
        // text-before-sigs crash ordering. A crash between the two
        // writes, or a pre-existing store paired with a fresh corpus
        // path, then self-heals on the next run instead of wedging on
        // a path-not-found read.
        if (!fs.exists(new org.apache.hadoop.fs.Path(storeCorpus)))
          nearInternal.select("doc_id", "text").limit(0)
            .write.parquet(storeCorpus)
        if (!fs.exists(new org.apache.hadoop.fs.Path(sigStore)))
          exactSigs.limit(0).write.parquet(sigStore)
        val verdicts = admitCycle(spark, nearInternal.select("doc_id", "text"),
          sigStore, storeCorpus, storeThreshold, admit = true,
          preSigned = exactSigs.join(nearInternal.select("doc_id"),
            Seq("doc_id"), "left_semi"))
        nearInternal
          .join(verdicts.filter(col("dup_of").isNull).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .persist(MEMORY_AND_DISK)
      }
      val n3b = if (sigStore == null) n3 else near.count()
      stage("decontam")
      val bench = benchShingleHashes(spark, benchSpec, 5)
      val scrubbed = TextMetrics.scrubContaminated(near, bench)
        .persist(MEMORY_AND_DISK)
      val nTouched = scrubbed.filter(col("n_removed") > 0).count()
      val clean = scrubbed
        .select(col("doc_id"), col("clean_text").as("text"))
      try {
        stage("chunk_dedup_shards")
        // persisted across its two consumer actions (the shard write
        // and the report count) — the chunk chain re-tokenizes the
        // whole cleaned corpus otherwise
        val wins = TextMetrics.chunkWindows(clean, win, stride,
          withText = true).persist(MEMORY_AND_DISK)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("wh").orderBy(col("doc_id"), col("win_id"))
        val examples = wins
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .withColumn("example_id", concat(col("doc_id").cast("string"),
            lit("_"), col("win_id").cast("string")))
          .select(col("example_id"), col("wh"), col("n_tok"),
            col("win_text").as("text"))
        Sharding.writeEpochShards(examples, "example_id", seed, nShards,
          out)
        stage("report")
        val nWin = wins.count()
        // count examples from the persisted frame, NOT a read-back of
        // the written dir: a zero-example run (everything gated or
        // scrubbed empty) writes a partitioned dir with no footers and
        // spark.read.parquet would die on schema inference AFTER the
        // main output and store admissions already committed — the
        // exact failure tokenizeAndPack's report path already guards
        val nEx = examples.count()
        wins.unpersist()
        val storePart =
          if (sigStore == null) "" else s" store_dedup=$n3b"
        writeReport(spark, out,
          s"input=$n0 gopher=$n1 exact_dedup=$n2 near_dedup=$n3" +
          storePart +
          s" decontam_touched=$nTouched windows=$nWin examples=$nEx" +
          s" shards=$nShards seed=$seed win=$win stride=$stride")
        spark.sparkContext.setJobDescription(null)
      } finally { scrubbed.unpersist(); () }
    } finally {
      near.unpersist()
      if (!(near eq nearInternal)) nearInternal.unpersist()
      exactSigs.unpersist(); exact.unpersist(); gated.unpersist()
      ()
    }
  }

  /** The tokenizer last mile composed (r11): BPE-train via the
    * in-memory exact loop over the minCount-capped head dictionary
    * (the k ≫ 8 path, BENCH_NOTES §3j), token-id encode through the
    * frequency-ranked [[graft.pipeline.Bpe.vocab]], per-doc id
    * streams cut into fixed-length NON-overlapping training
    * sequences (the pretraining-loader shape; stride = seqLen —
    * overlap belongs to the fine-tuning chunker, `chunkWindows`),
    * and the reproducible `shard=` epoch layout.
    *
    * Output: `shard=N/` parquet of (example_id, ids ARRAY<BIGINT>,
    * n_ids), plus `out + "_vocab"` (sym, id, cnt) and a one-line
    * report. Deterministic end to end: same corpus + params ⇒ same
    * merges, ids, examples, and shard layout.
    *
    * Scale shape (r12): train = one corpus pass + driver loop (§3j);
    * word→ids is a plain equi-join with NO broadcast hint (only the
    * training dictionary is minCount-capped — the encode dictionary
    * grows with the corpus, so the planner decides from statistics);
    * each word gets its id-stream offset from a doc-keyed SPILLABLE
    * window, examples aggregate by (doc, example#) so no buffer
    * exceeds seqLen ids (book-length docs can't build unspillable
    * rows); resharding is
    * [[graft.pipeline.Sharding.writeEpochShards]]'s one repartition.
    * No corpus-wide sort anywhere.
    *
    * `minCount > 1` caps only the TRAINING dictionary (the §3j
    * head-cap lever); the ENCODE dictionary stays the full vocabulary
    * — tail words are still tokenized by the head-trained merges
    * (character-level where no merge applies), exactly how production
    * BPE handles rare words. Coverage is total either way: every
    * corpus token appears in the id stream.
    */
  def tokenizeAndPack(spark: SparkSession, in: String, out: String,
                      kMerges: Int = 256, minCount: Long = 1L,
                      seqLen: Int = 128, seed: Int = 0,
                      nShards: Int = 8): Unit = {
    import graft.pipeline.{Bpe, Sharding}
    val docs = loadDocs(spark, in)
    // the one corpus pass: the FULL word dictionary, trained on through
    // its minCount view and encoded whole
    val words = Bpe.wordDict(docs).persist()
    val merges =
      try Bpe.trainLocalWords(words.filter(col("wc") >= minCount), kMerges)
      catch { case e: Throwable => words.unpersist(); throw e }
    // one dictionary-sized encode (FULL vocab); word → ordered id array
    val dict = Bpe.encodeWords(words, merges)
      .persist() // consumed by vocab AND the word-id table
    val voc = Bpe.vocab(dict).persist()
    try {
      // NO broadcast hints on the dictionary joins (r12): only the
      // TRAINING dictionary is minCount-capped — the encode dictionary
      // is the full vocabulary, which grows with corpus size (hapaxes),
      // so a hard broadcast hint would exceed driver/broadcast limits
      // at scale. The planner broadcasts when statistics allow and
      // degrades to a shuffle join when they don't.
      val wid = dict
        .select(col("w"), posexplode(col("syms")).as(Seq("sp", "sym")))
        .join(voc.select("sym", "id"), Seq("sym"))
        .groupBy("w")
        .agg(transform(array_sort(collect_list(struct(col("sp"), col("id")))),
          x => x.getField("id")).as("wids"))
      // examples CUT WITHOUT materializing any doc's full id stream
      // (r12): the old groupBy(doc_id) + flatten(collect_list(...))
      // built one aggregation buffer holding EVERY id of a doc —
      // collect_list buffers cannot spill mid-group, so a book-length
      // doc (10M tokens ≈ 80 MB of longs) was an unspillable buffer
      // and a multi-GB row downstream. Instead: a doc-keyed WINDOW
      // (spillable sort) assigns each word its id-stream offset, each
      // word is sliced onto the example(s) it overlaps, and the
      // aggregation key is (doc_id, example#) — no buffer ever exceeds
      // seqLen ids, whatever the doc length.
      import org.apache.spark.sql.expressions.Window
      val words = docs
        .select(col("doc_id"),
          posexplode(TextOps.cleanTokensCol(col("text")))
            .as(Seq("p", "w")))
        .join(wid, Seq("w"))
        .withColumn("nid", size(col("wids")))
        .withColumn("off", sum("nid").over(
          Window.partitionBy("doc_id").orderBy("p")) - col("nid"))
      // a word's ids sit at global 0-based positions off .. off+nid-1;
      // example k owns positions k*seqLen .. (k+1)*seqLen-1, so the
      // word overlaps examples (off div seqLen) .. ((off+nid-1) div
      // seqLen) and contributes the matching slice to each
      val pieces = words
        .select(col("doc_id"), col("p"), col("off"), col("nid"),
          col("wids"), explode(expr(
            s"sequence(off div $seqLen, (off + nid - 1) div $seqLen)"))
            .as("k"))
        .select(col("doc_id"), col("k"), col("p"), expr(
          s"""slice(wids, greatest(k * $seqLen - off, 0) + 1,
             |  least(nid, (k + 1) * $seqLen - off)
             |    - greatest(k * $seqLen - off, 0))""".stripMargin)
          .as("piece"))
      val examples = pieces
        .groupBy("doc_id", "k")
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("p"), col("piece")))),
          x => x.getField("piece"))).as("ids"))
        .select(
          concat(col("doc_id").cast("string"), lit("_"),
            col("k").cast("string")).as("example_id"),
          col("ids"))
        .withColumn("n_ids", size(col("ids")).cast("long"))
        .persist() // two actions: the shard write + the report agg
      try {
        Sharding.writeEpochShards(examples, "example_id", seed, nShards,
          out)
        voc.write.mode("overwrite").parquet(out + "_vocab")
        // report from the persisted frame (a read-back of an EMPTY
        // partitioned dir can't infer a schema) with null-safe sums —
        // an empty or all-filtered corpus reports zeros, no crash
        val r = examples
          .agg(count(lit(1)).as("n"),
            coalesce(expr("CAST(sum(n_ids) AS BIGINT)"), lit(0L))
              .as("ids")).head()
        writeReport(spark, out,
          s"examples=${r.getLong(0)} ids=${r.getLong(1)}" +
          s" merges=${merges.length} vocab=${voc.count()}" +
          s" seq_len=$seqLen shards=$nShards seed=$seed")
      } finally { examples.unpersist(); () }
    } finally { voc.unpersist(); dict.unpersist(); words.unpersist(); () }
  }

  /** Reproducible epoch layout for training: the corpus resharded by
    * seeded hash with a deterministic in-shard order, one `shard=`
    * directory per loader worker (seed = epoch number; a new seed is a
    * new global permutation). See [[graft.pipeline.Sharding]].
    */
  def epochShards(spark: SparkSession, in: String, out: String,
                  seed: Int, nShards: Int): Unit =
    graft.pipeline.Sharding.writeEpochShards(
      loadDocs(spark, in), "doc_id", seed, nShards, out)

  /** Shared mix-job corpus contract: full-schema parquet read (not
    * loadDocs' (doc_id, text) projection — the selection keys on the
    * corpus's language column and every other column rides through
    * to the materialized mix), with the `lang` column required. */
  private def loadLangCorpus(spark: SparkSession, in: String,
                             job: String): DataFrame = {
    require(in.startsWith("parquet:"),
      s"$job needs a parquet corpus with a 'lang' column, got $in")
    val docs = spark.read.parquet(in.stripPrefix("parquet:"))
    require(docs.columns.contains("lang"),
      s"corpus at $in has no 'lang' column (found: ${docs.columns.mkString(", ")})")
    docs
  }

  /** Materialize the temperature-resampled training mix as a curation
    * stage: the α-flattened per-language selection
    * ([[graft.pipeline.Sharding.temperatureSample]]) written as
    * parquet, with the [[graft.pipeline.Sharding.temperatureReport]]
    * data-card table (lang, n_docs, quota, n_sel, capped) beside it —
    * capped languages are visible in the report, never silently
    * upsampled. Deterministic per seed: reruns and incremental
    * rebuilds select the identical mix.
    */
  def temperatureMix(spark: SparkSession, in: String, out: String,
                     alphaE: String = "3e-1", targetDiv: Int = 2,
                     seed: Int = 7): Unit = {
    import graft.pipeline.Sharding
    val docs = loadLangCorpus(spark, in, "TemperatureMix")
    Sharding.temperatureSample(docs, alphaE = alphaE,
        targetDiv = targetDiv, seed = seed)
      .write.mode("overwrite").parquet(out)
    Sharding.temperatureReport(docs, alphaE = alphaE,
        targetDiv = targetDiv)
      .coalesce(1).write.mode("overwrite").parquet(out + "_report")
  }

  /** [[temperatureMix]]'s upsampling sibling: materialize the
    * repeat-budget mix (per-doc `rep` counts) + its per-language plan
    * table. Same corpus contract (parquet with a `lang` column) and
    * the same targetDiv default as the sibling and the library op. */
  def repeatMix(spark: SparkSession, in: String, out: String,
                alphaE: String = "3e-1", targetDiv: Int = 2,
                maxRepeat: Int = 4, seed: Int = 7): Unit = {
    import graft.pipeline.Sharding
    val docs = loadLangCorpus(spark, in, "RepeatMix")
    Sharding.repeatBudgetMix(docs, alphaE = alphaE,
        targetDiv = targetDiv, maxRepeat = maxRepeat, seed = seed)
      .write.mode("overwrite").parquet(out)
    Sharding.repeatBudgetPlan(docs, alphaE = alphaE,
        targetDiv = targetDiv, maxRepeat = maxRepeat)
      .coalesce(1).write.mode("overwrite").parquet(out + "_plan")
  }

  /** Leakage-aware split over the corpus's own near-dup clusters:
    * label via LSH candidates + EXACT connected components, fold by
    * the component label's seeded hash, write (doc_id, cluster, fold,
    * split). No dup group straddles train/val — the labeling is
    * [[graft.pipeline.Dedup.connectedComponents]]' fixpoint, so the
    * guarantee holds for dup CHAINS of any diameter (r12 verdict: the
    * former 3-round [[graft.pipeline.Dedup.clusters]] labeling let a
    * diameter->3 chain converge to two labels that hash to independent
    * folds, silently violating this contract; px80's QUERY keeps the
    * declared 3-round contract — the JOB ships the exact one). */
  def leakageSplit(spark: SparkSession, in: String, out: String,
                   nFolds: Int = 10, nVal: Int = 1,
                   seed: Int = 11, edgesIn: Option[String] = None): Unit = {
    import graft.pipeline.Dedup
    val docs = loadDocs(spark, in)
    // edgesIn: a precomputed candidate-edge parquet (d1, d2) — the
    // 100 TB path, where the LSH edge list is a written artifact of
    // the dedup pass and the split job only labels + folds over it.
    // Inline default: STAR edges, not the all-pairs clique — the job
    // only needs connectivity, and a boilerplate mega-bucket makes
    // the clique O(bucket²) where the star stays O(bucket); the two
    // are component-identical (ConnectedComponentsSpec, viaClique ==
    // viaStar — the r6 nearDupKeepers rule applied here too).
    val edges = edgesIn.map(spark.read.parquet(_).select("d1", "d2"))
      .getOrElse(Dedup.lshEdges(docs))
    Dedup.leakageSplit(
        Dedup.connectedComponents(docs, edges),
        nFolds = nFolds, nVal = nVal, seed = seed)
      .select(col("doc_id"), col("lbl").as("cluster"), col("fold"),
        col("split"))
      .write.mode("overwrite").parquet(out)
  }

  /** Exact-dedup a corpus: keep the min-id doc per content hash,
    * write the deduplicated corpus as parquet (the LSH/near-dup
    * variants are the px02/px03/px19/px21 query pipeline).
    */
  def dedupCorpus(spark: SparkSession, in: String, out: String): Unit = {
    val docs = loadDocs(spark, in)
    // the GATED keeper rule lives in one place (Dedup.exactKeepers);
    // an inline copy here would silently drift if the rule changed
    docs.join(graft.pipeline.Dedup.exactKeepers(docs),
        Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(out)
  }

  /** Eval decontamination as a curation stage: remove the tokens of
    * every benchmark 5-gram from the corpus (span-surgical — the doc
    * survives, its contaminated spans don't; the doc-level drop twin
    * is a plain px24-style anti-join). The benchmark corpus loads via
    * the same scheme specs as the input; output keeps the corpus
    * schema with `text` replaced by the scrubbed text, plus a one-line
    * report of docs touched / tokens removed.
    */
  def decontaminateCorpus(spark: SparkSession, in: String, out: String,
                          benchIn: String, k: Int = 5,
                          mode: String = "scrub"): Unit = {
    import graft.functions.DetHash
    import graft.pipeline.TextMetrics
    val docs = loadDocs(spark, in)
    val bench = benchShingleHashes(spark, benchIn, k)
    mode match {
      case "drop" =>
        // doc-level treatment (the px24 flag as a job): DROP any doc
        // sharing a benchmark k-gram, original text untouched — no
        // position explode, no re-stitch, just the broadcast hash
        // semi-join the flag query runs
        val dirty = TextOps.shingleRows(docs, k)
          .select(col("doc_id"), DetHash.h60(col("s")).as("sh"))
          .join(broadcast(bench), Seq("sh"))
          .select("doc_id").distinct()
        val kept = docs.join(dirty, Seq("doc_id"), "left_anti").persist()
        try {
          kept.write.mode("overwrite").parquet(out)
          val n0 = docs.count(); val n1 = kept.count()
          writeReport(spark, out, s"input=$n0 dropped=${n0 - n1} kept=$n1")
        } finally { kept.unpersist(); () }
      case _ =>
        writeScrubbed(spark, TextMetrics.scrubContaminated(docs, bench, k),
          out)
    }
  }

  /** Shared tail of every span-scrubbing curation job: write the
    * scrubbed corpus as (doc_id, text) parquet + the touched/removed
    * one-line report. Null-safe aggregates — an empty or fully-
    * filtered corpus reports zeros instead of NPE-ing after the main
    * output was already written (EdgeCaseSpec doctrine).
    */
  private def writeScrubbed(spark: SparkSession, scrubbed: DataFrame,
                            out: String, reportSuffix: String = ""): Unit = {
    val s = scrubbed.persist() // two actions: the write + the report
    try {
      s.select(col("doc_id"), col("clean_text").as("text"))
        .write.mode("overwrite").parquet(out)
      val r = s.agg(count(lit(1)).as("n"),
        coalesce(sum(expr("CASE WHEN n_removed > 0 THEN 1 ELSE 0 END")),
          lit(0L)).as("touched"),
        coalesce(expr("CAST(sum(n_removed) AS BIGINT)"), lit(0L))
          .as("removed")).head()
      writeReport(spark, out,
        s"input=${r.getLong(0)} touched=${r.getLong(1)} " +
          s"tokens_removed=${r.getLong(2)}$reportSuffix")
    } finally { s.unpersist(); () }
  }

  /** Exact-substring dedup as a curation stage (Lee et al. 2022's
    * ExactSubstr removal, [[graft.pipeline.Dedup.scrubDupSpans]]):
    * every corpus-duplicated n-gram keeps only its first occurrence;
    * all other occurrences' spans are excised and survivors stitched.
    * Output keeps the corpus schema with `text` replaced by the
    * deduplicated text, plus a one-line report.
    */
  def exactSubstrDedup(spark: SparkSession, in: String, out: String,
                       n: Int = 5): Unit =
    writeScrubbed(spark,
      graft.pipeline.Dedup.scrubDupSpans(loadDocs(spark, in), n),
      out, reportSuffix = s" n=$n")

  /** Semantic dedup as a curation stage (SemDeDup, Abbas et al. 2023):
    * drop every document whose embedding has a lower-id neighbor at
    * cosine ≥ `threshold` within its k-means cluster. Embeddings come
    * from a side parquet keyed like the corpus (real pipelines embed
    * in a separate pass); k is the REQUIRED scale knob — pairs fall as
    * n²/2k (BENCH_NOTES §3c measurement). Docs without an embedding
    * are kept (no evidence to drop) and counted in the report.
    */
  def semDedupCorpus(spark: SparkSession, in: String, out: String,
                     embPath: String, kClusters: Int,
                     iters: Int = 1, threshold: Double = 0.95): Unit = {
    import graft.pipeline.Dedup
    val docs = loadDocs(spark, in)
    val emb = spark.read.parquet(embPath)
    val verdicts = Dedup.semDedup(emb, kClusters, iters, threshold,
      idCol = emb.columns.find(_ == "doc_id").getOrElse("vec_id"))
    val keepers = verdicts.filter(col("keep") === 1)
      .select(col("vid").as("doc_id"))
    val embedded = verdicts.select(col("vid").as("doc_id"))
    // kept = semantic keepers ∪ docs with no embedding row
    val kept = docs.join(keepers, Seq("doc_id"), "left_semi")
      .unionByName(docs.join(embedded, Seq("doc_id"), "left_anti"))
      .persist() // two actions: the write + the report count
    try {
      kept.write.mode("overwrite").parquet(out)
      val n0 = docs.count()
      // embedded = embedding rows THAT MATCH a corpus doc (ADVICE r4:
      // counting the raw embedding table lets embedded exceed input and
      // conflates semantic drops with id mismatches in the report)
      val nEmb = embedded.join(docs, Seq("doc_id"), "left_semi").count()
      val n1 = kept.count()
      writeReport(spark, out,
        s"input=$n0 embedded=$nEmb kept=$n1 dropped=${n0 - n1}")
    } finally { kept.unpersist(); () }
  }

  /** End-to-end training-data curation: [optional Gopher rule gate —
    * shuffle-free, so it runs FIRST and cheapens every later stage] →
    * exact dedup → near-dup removal (MinHash LSH + min-label clusters,
    * keep cluster minimum) → quality filters (token-count floor, Gopher
    * repetition-ratio cap). Writes the kept corpus as parquet plus a
    * one-line text report of per-stage counts — the pipeline a 100 TB
    * pretraining corpus runs before tokenization (each stage is one
    * keyed shuffle; nothing collects).
    */
  def curateCorpus(spark: SparkSession, in: String, out: String,
                   minTokens: Int = 5, maxRep: Double = 0.2,
                   gopher: Boolean = false): Unit = {
    import graft.pipeline.{Dedup, TextMetrics}
    // Per-stage job descriptions: every action below is attributable in
    // the UI / event log / metrics listeners (the same naming rule
    // Bench.timeOne applies per query) — this is what lets the N=500
    // scale rehearsal report the COMPOSED run per-phase.
    def stage(name: String): Unit =
      spark.sparkContext.setJobDescription(s"curate:$name")
    val docs0 = loadDocs(spark, in)
    stage("input_count")
    val n0 = docs0.count()
    // The gopher gate TOKENIZES the whole corpus; persist its output
    // across the downstream actions or each of them re-pays the
    // tokenize (r6 N=500 rehearsal: the un-persisted chain re-derived
    // the gate inside exact-dedup and near-dedup — MEMORY_AND_DISK so
    // a corpus bigger than memory spills instead of failing; at real
    // 100 TB scale each stage is a written parquet artifact instead).
    val docs = if (gopher)
      docs0.join(TextMetrics.gopherRules(docs0).filter(col("keep") === 1)
        .select("doc_id"), Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else docs0
    stage("gopher_count")
    val gopherNote = if (gopher) s" gopher_kept=${docs.count()}" else ""
    // post-exact-dedup survivors feed FIVE consumers (n1 count, the
    // LSH edge build, CC's id/label frames, the near semi-join) —
    // eager-persist across those actions (same multi-action rule as
    // `near` below)
    val exact = docs.join(Dedup.exactKeepers(docs), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stage("exact_dedup")
    val n1 = exact.count()
    // persist across the MULTIPLE ACTIONS below (n2 count + the final
    // write would otherwise each re-run the LSH self-join and the label
    // propagation from scratch — the intra-query no-persist rule
    // [IrQueries note] is about shared subtrees inside ONE action,
    // where ReusedExchange already dedupes; it does not span actions)
    // description set BEFORE construction: clusters() eagerly
    // checkpoints its propagation rounds, so near-dedup work starts
    // here, not at the count
    stage("near_dedup")
    val near = exact
      .join(Dedup.nearDupKeepers(exact), Seq("doc_id"), "left_semi")
      .persist()
    try {
      val n2 = near.count()
      // use the library's own 6-dp-rounded rep_ratio (the cross-engine
      // float contract), not a re-derivation from its intermediates: a
      // doc at the maxRep boundary must gate identically to the
      // declared/oracled formula
      val rep = TextMetrics.repetitionRatio(near, 3)
        .select(col("doc_id"), col("rep_ratio").as("rep"))
      val dl = TextOps.docLengths(near)
      val kept = near.join(dl, Seq("doc_id"))
        .join(rep, Seq("doc_id"), "left")
        .filter(col("dl") >= minTokens &&
          coalesce(col("rep"), lit(0.0)) <= maxRep)
        .select("doc_id", "text")
      stage("quality_write")
      kept.write.mode("overwrite").parquet(out)
      stage("readback_count")
      val n3 = spark.read.parquet(out).count()
      stage("report")
      writeReport(spark, out, s"input=$n0$gopherNote exact_dedup=$n1" +
        s" near_dedup=$n2 quality_kept=$n3")
      spark.sparkContext.setJobDescription(null)
    } finally {
      near.unpersist()
      exact.unpersist()
      if (gopher) docs.unpersist()
      ()
    }
  }

  /** Shared spam-filter body: the ONE copy of the threshold/counter/
    * report semantics, whatever the score source (parquet or JDBC) —
    * JdbcSpec asserts the two public entry points stay byte-equal.
    */
  private def spamFilterWith(spark: SparkSession, in: String, out: String,
                             scores: DataFrame, threshold: Int): Unit = {
    val docs = loadDocs(spark, in)
    // persist: the write and the counters are two ACTIONS over the same
    // join — without it the corpus scan + join runs twice (same pattern
    // as curateCorpus; intra-query exchange reuse cannot span actions)
    val joined = docs.join(broadcast(scores), Seq("doc_id"), "left").persist()
    try {
      joined.filter(col("score") >= threshold)
        .select("doc_id", "text")
        .write.mode("overwrite").parquet(out)
      // count(when) not sum(when): count is 0 on an empty corpus where
      // sum would be NULL and getLong would NPE
      val c = joined.agg(
        count(when(col("score") >= threshold, 1)).as("kept"),
        count(when(col("score") < threshold, 1)).as("filtered"),
        count(when(col("score").isNull, 1)).as("missing")).head()
      writeReport(spark, out, s"kept=${c.getLong(0)}" +
        s" filtered=${c.getLong(1)} missing=${c.getLong(2)}")
    } finally { joined.unpersist(); () }
  }

  /** Spam-score filter (`ClueWebSpamFilter.java:46-120`): join the
    * side-loaded percentile table (the reference's per-row H2 lookup
    * becomes one broadcast join, SURVEY S9/J4), keep docs scoring
    * ≥ threshold, write the filtered corpus plus the reference's three
    * counters (kept / filtered / missing) as a report line. Missing
    * scores drop the doc, as in the reference (it only emits on a
    * successful lookup).
    */
  def spamFilter(spark: SparkSession, in: String, out: String,
                 scoresPath: String, threshold: Int = 70): Unit =
    spamFilterWith(spark, in, out,
      spark.read.parquet(scoresPath).select("doc_id", "score"), threshold)

  /** S9 made live: spam filter whose score table is read over JDBC
    * (`ClueWebSpamFilter.java:46-79` reads percentiles from a
    * relational store). Identical semantics to [[spamFilter]] —
    * asserted in JdbcSpec — with `spark.read.jdbc` replacing the
    * parquet scan; the lookup stays a broadcast join, never a per-doc
    * query (scale note in [[graft.sources.JdbcSource]]).
    */
  def spamFilterJdbc(spark: SparkSession, in: String, out: String,
                     jdbcUrl: String, table: String,
                     threshold: Int = 70): Unit =
    spamFilterWith(spark, in, out,
      graft.sources.JdbcSource.readTable(spark, jdbcUrl, table)
        .select(col("doc_id"), col("score")), threshold)

  /** Query-term co-occurrence statistics (`TrecQueryStats.java`):
    * per (query term, doc term) pair over co-occurring docs — doc
    * count and Σ min(tf_q, tf_d) — doc side stoplist-filtered; TAB
    * output `qterm dterm n_docs sum_minf` (FIXTURES §7 shape). The
    * pairs are [[CorpusStats.queryCooccurrence]], ir21's dataflow.
    */
  def queryStats(spark: SparkSession, in: String, out: String,
                 topics: String, merge: Boolean = false,
                 stoplist: Option[String] = None): Unit = {
    // side-loaded stoplist file when given (TrecQueryStats parity),
    // built-in default otherwise
    val stop = stoplist.map(TextOps.loadStopwords(spark, _))
      .getOrElse(TextOps.stopwords)
    val tf = TextOps.termFreqs(loadDocs(spark, in))
    val qterms = Topics.readPlain(spark, topics).select("term").distinct()
    // |query terms| × vocabulary pairs in the worst case → partitioned
    writeText(CorpusStats.queryCooccurrence(tf, qterms, stop)
      .select(concat_ws("\t", col("qterm"), col("dterm"), col("n_docs"),
        col("sum_minf")).as("value")),
      out, merge)
  }

  /** KBA linear-combination grid filter (`KBAStaticFilter.java:216-277`
    * shape): sweep the weight grid over `score = value + w·hour(ts)`,
    * threshold, report per-weight pass counts + mean passing score and
    * the best weight by mean. Input: any parquet with (value, ts).
    */
  def kbaFilter(spark: SparkSession, in: String, out: String,
                threshold: Double = 100.0): Unit = {
    val grid = spark.range(0, 3)
      .select(expr("CAST(pow(2, id) AS DOUBLE)").as("w"))
    val ev = graft.Tables.normalizeTs(spark.read.parquet(in))
    val agg = ev
      .select(col("value"), expr("hour(ts)").as("hr"))
      .crossJoin(broadcast(grid))
      .withColumn("score", expr("value + w * hr"))
      .filter(col("score") >= threshold)
      .groupBy("w")
      .agg(count(lit(1)).as("n_pass"),
        expr("CAST(sum(CAST(score AS DECIMAL(18,2))) AS DOUBLE)").as("sum_score"))
      .withColumn("mean_score", expr("round(sum_score / n_pass, 6)"))
    // every grid weight reports (n_pass=0, mean NA when nothing passes),
    // plus the best-weight line the job contract promises
    val table = grid.join(agg, Seq("w"), "left")
      .select(col("w"),
        coalesce(col("n_pass"), lit(0L)).as("n_pass"),
        col("mean_score"))
    val rows = table
      .select(col("w").as("k"),
        concat_ws("\t", col("w"), col("n_pass"),
          coalesce(col("mean_score").cast("string"), lit("NA"))).as("value"))
    val best = table.filter(col("mean_score").isNotNull)
      .orderBy(desc("mean_score"), col("w")).limit(1) // numeric order
      .select(lit(Double.MaxValue).as("k"),
        concat_ws("\t", lit("best"), col("w")).as("value"))
    rows.unionByName(best).orderBy("k").select("value")
      .coalesce(1).write.mode("overwrite").text(out)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try args.toList match {
      case "AnchorExtract" :: in :: out :: Nil => anchorExtract(spark, in, out)
      case "TrecRun" :: in :: out :: topics :: Nil => trecRun(spark, in, out, topics)
      case "QueryTermCount" :: in :: out :: topics :: Nil =>
        queryTermCount(spark, in, out, topics)
      case "TrecRunBaselines" :: in :: out :: aug :: Nil =>
        trecRunBaselines(spark, in, out, aug)
      case "WordCount" :: in :: out :: rest => wordCount(spark, in, out, rest)
      case "CollectionStats" :: in :: out :: Nil => collectionStats(spark, in, out)
      case "MutualInfo" :: in :: out :: Nil => mutualInfo(spark, in, out)
      case "IndexDocVectors" :: in :: out :: Nil =>
        Index.write(loadDocs(spark, in), out)
      case "DedupCorpus" :: in :: out :: Nil => dedupCorpus(spark, in, out)
      case "EpochShards" :: in :: out :: seed :: nShards :: Nil =>
        epochShards(spark, in, out, seed.toInt, nShards.toInt)
      case "TokenizeAndPack" :: in :: out :: rest if rest.size <= 5 =>
        tokenizeAndPack(spark, in, out,
          kMerges = rest.headOption.map(_.toInt).getOrElse(256),
          minCount = rest.lift(1).map(_.toLong).getOrElse(1L),
          seqLen = rest.lift(2).map(_.toInt).getOrElse(128),
          seed = rest.lift(3).map(_.toInt).getOrElse(0),
          nShards = rest.lift(4).map(_.toInt).getOrElse(8))
      case "TemperatureMix" :: in :: out :: rest if rest.size <= 3 =>
        temperatureMix(spark, in, out,
          alphaE = rest.headOption.getOrElse("3e-1"),
          targetDiv = rest.lift(1).map(_.toInt).getOrElse(2),
          seed = rest.lift(2).map(_.toInt).getOrElse(7))
      case "RepeatMix" :: in :: out :: rest if rest.size <= 4 =>
        repeatMix(spark, in, out,
          alphaE = rest.headOption.getOrElse("3e-1"),
          targetDiv = rest.lift(1).map(_.toInt).getOrElse(2),
          maxRepeat = rest.lift(2).map(_.toInt).getOrElse(4),
          seed = rest.lift(3).map(_.toInt).getOrElse(7))
      case "LeakageSplit" :: in :: out :: rest if rest.size <= 4 =>
        leakageSplit(spark, in, out,
          nFolds = rest.headOption.map(_.toInt).getOrElse(10),
          nVal = rest.lift(1).map(_.toInt).getOrElse(1),
          seed = rest.lift(2).map(_.toInt).getOrElse(11),
          edgesIn = rest.lift(3))
      case "PrepareTrainingData" :: in :: out :: bench :: seed ::
          nShards :: Nil =>
        prepareTrainingData(spark, in, out, bench, seed.toInt,
          nShards.toInt)
      // trailing sigStore + storeCorpus join the persisted admit
      // cycle: store-dups drop, novel survivors are admitted
      case "PrepareTrainingData" :: in :: out :: bench :: seed ::
          nShards :: sigs :: storeCorp :: Nil =>
        prepareTrainingData(spark, in, out, bench, seed.toInt,
          nShards.toInt, sigStore = sigs, storeCorpus = storeCorp)
      case "CompactStore" :: paths if paths.nonEmpty =>
        paths.foreach(p => compactStore(spark, p))
      case "IncrementalDedup" :: sigs :: corpus :: batch :: out :: rest
          if rest.isEmpty || rest == List("admit") =>
        incrementalDedup(spark, sigs, corpus, batch, out,
          admit = rest.nonEmpty)
      case "ExactSubstrDedup" :: in :: out :: rest if rest.size <= 1 =>
        exactSubstrDedup(spark, in, out,
          n = rest.headOption.map(_.toInt).getOrElse(5))
      case "DecontaminateCorpus" :: in :: out :: bench :: Nil =>
        decontaminateCorpus(spark, in, out, bench)
      case "DecontaminateCorpus" :: in :: out :: bench :: "drop" :: Nil =>
        decontaminateCorpus(spark, in, out, bench, mode = "drop")
      case "SemDedupCorpus" :: in :: out :: emb :: k :: Nil =>
        semDedupCorpus(spark, in, out, emb, k.toInt)
      case "CurateCorpus" :: in :: out :: Nil => curateCorpus(spark, in, out)
      case "CurateCorpus" :: in :: out :: "gopher" :: Nil =>
        curateCorpus(spark, in, out, gopher = true)
      case "SpamFilter" :: in :: out :: scores :: Nil =>
        spamFilter(spark, in, out, scores)
      case "QueryStats" :: in :: out :: topics :: Nil =>
        queryStats(spark, in, out, topics)
      case "QueryStats" :: in :: out :: topics :: stoplist :: Nil =>
        queryStats(spark, in, out, topics, stoplist = Some(stoplist))
      case "KBAFilter" :: in :: out :: Nil => kbaFilter(spark, in, out)
      case "RunQueryKDE" :: in :: out :: topics :: Nil =>
        runQueryKde(spark, in, out, topics)
      case "RunQueryKDESweep" :: in :: out :: topics :: qrels :: Nil =>
        runQueryKdeSweep(spark, in, out, topics, qrels)
      case "DumpIndex" :: "s" :: idx :: out :: Nil =>
        dumpIndexStats(spark, idx, out)
      case "DumpIndex" :: "dv" :: idx :: docno :: out :: Nil =>
        dumpIndexDocVector(spark, idx, docno, out)
      case "RunQueryIndexWeighted" :: idx :: out :: wtopics :: Nil =>
        runQueryIndexWeighted(spark, idx, out, wtopics)
      case "TrecToMallet" :: in :: out :: Nil => trecToMallet(spark, in, out)
      case "TrecToParquet" :: in :: out :: Nil => trecToParquet(spark, in, out)
      case "SeqToParquet" :: in :: out :: Nil => seqToParquet(spark, in, out)
      case "ParquetToSeq" :: in :: out :: Nil => parquetToSeq(spark, in, out)
      case "GenerateFeedbackQueries" :: in :: out :: topics :: Nil =>
        generateFeedbackQueries(spark, in, out, topics)
      case "RunQueryWeighted" :: in :: out :: wtopics :: Nil =>
        runQueryWeighted(spark, in, out, wtopics)
      case "RunQueryIndex" :: idx :: out :: topics :: Nil =>
        writeRun(Index.scoreFromIndex(Index.load(spark, idx),
          Topics.readPlain(spark, topics), Retrieval.lmdirPart,
          Retrieval.lmdirFinal, conjunctive = false, TopK), out, "graft-lmdi")
      // sharded postings layout by default (Index.DefaultMaxPostings —
      // it measured better on build/scoring/memory at 2.5M docs AND is
      // the only head-term-skew-safe shape, BENCH_NOTES §3g); trailing
      // maxPostings overrides the bound (negative is refused), 0 = the
      // compact one-row-per-term layout. A corpus with at most
      // maxPostings docs skips the shard ranking on its own (every
      // shard id is 0), so small corpora need no 0 here
      case "IndexInverted" :: in :: out :: Nil =>
        Index.writeInverted(loadDocs(spark, in), out)
      case "IndexInverted" :: in :: out :: maxP :: Nil =>
        Index.writeInverted(loadDocs(spark, in), out,
          maxPostings = maxP.toInt)
      case "RunQueryInverted" :: idx :: out :: topics :: Nil =>
        writeRun(Index.scoreFromInverted(spark, idx,
          Topics.readPlain(spark, topics), Retrieval.lmdirPart,
          Retrieval.lmdirFinal, conjunctive = false, TopK), out, "graft-lmdi")
      case other => sys.error(
        s"unknown job ${other.headOption.getOrElse("")}; see scaladoc")
    } finally spark.stop()
  }
}
