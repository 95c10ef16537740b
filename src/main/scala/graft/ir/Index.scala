package graft.ir

import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized doc-vector index (SURVEY §3.3: the HBase stack
  * `IndexTrecToHBase → CollectionStatsHBase → RunQueryHBase` becomes
  * a Parquet table + DataFrame joins).
  *
  * Schema: (doc_id, dv: Map[term→tf], len) — the reference's
  * Java-serialized `FeatureVector` becomes a typed MapType column
  * (`IndexTrecToHBase.java:106-146`); HBase point-Gets become joins.
  *
  * Scale: the index write is one tokenize+aggregate pass; retrieval
  * from the index skips re-tokenization entirely (explode of the map
  * column is cheaper than regex-splitting raw text and prunes to the
  * `dv` column at the parquet scan). The write adds no repartition:
  * the `groupBy(doc_id)` already hash-partitions by doc_id, and AQE
  * sizes the output files from that shuffle (~64 MB each at scale, a
  * couple at 10k docs). Plain parquet stores no bucketing metadata,
  * so a reader's joins on doc_id shuffle either way; co-located joins
  * at 100 TB need a metastore-backed `bucketBy(...).sortBy(...)
  * .saveAsTable` layout (catalog-dependent; out of scope for a
  * path-addressed library).
  */
object Index {

  /** Build the doc-vector table from (doc_id, text) docs. */
  def buildDocVectors(docs: DataFrame): DataFrame =
    TextOps.termFreqs(docs)
      .groupBy("doc_id")
      .agg(
        map_from_entries(collect_list(struct(col("term"), col("tf")))).as("dv"),
        sum("tf").as("len"))

  def write(docs: DataFrame, path: String): Unit =
    buildDocVectors(docs).write.mode("overwrite").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Per-term collection stats straight from the index
    * (CollectionStatsHBase re-explode, `CollectionStatsHBase.java:45-70`):
    * [[CorpusStats.termStats]] over the exploded doc vectors.
    */
  def termStats(dv: DataFrame): DataFrame =
    CorpusStats.termStats(dv.select(explode(col("dv")).as(Seq("term", "tf"))))

  /** Slices per term in the sharded postings build — fixed (NOT a
    * partition count) so the slice id is a stable function of doc_id.
    */
  private val IxSlices = 4096L

  /** The postings relation from a (doc_id, term, tf) frame.
    *
    * maxPostings=0: one row per term (the compact layout). >0: split
    * each term's postings into doc_id-ordered SHARDS of at most
    * maxPostings entries — the 100 TB pressure valve for head-term
    * skew (IndexScaleProbe measured a 1.96M-struct array in ONE row
    * at 2.5M docs; at 1000× that row is a task-killer, both to build
    * and to explode at query time). Since r18 the shard rank is
    * SLICE-DISTRIBUTED (see the inline note): no stage anywhere
    * funnels one term's full postings through a single task, and the
    * rank arithmetic is long — the r17 shape's per-term windows hit
    * row_number's int ceiling at 2^31 postings per term, below the
    * layout's own design point. Per-group state stays bounded: each
    * (term, shard) collect_list buffer — which cannot spill
    * mid-group — holds ≤ maxPostings structs. Every shard row carries
    * the TERM-level df/cf, so [[scoreFromInverted]] reads both
    * layouts unchanged (explode unions shards; stats are constant per
    * term — equivalence asserted in IndexSpec, plan shape in
    * PlanShapeSpec). Re-measured r18 at 2.5M docs (IndexScaleProbe,
    * probes/index_scale500_r18.log): see BENCH_NOTES §3g addendum.
    */
  private[graft] def postingsFrame(tf: DataFrame,
                                   maxPostings: Int): DataFrame =
    if (maxPostings > 0) {
      import org.apache.spark.sql.expressions.Window
      // Distributed shard rank (review r18). The old shape — df/cf
      // windows + row_number over (PARTITION BY term ORDER BY
      // doc_id) — funneled each term's FULL postings through one
      // task, and row_number's int counter overflows past 2^31
      // postings for a head term: at the layout's own 100 TB design
      // point that is an ANSI arithmetic error (or, non-ANSI,
      // negative shard ids and a mis-sharded index) in the one
      // layout documented to survive head-term skew. Slice-rank +
      // offset instead, with the slice id a PURE HASH of doc_id:
      //  - deterministic per row, so the twice-referenced frame needs
      //    no checkpoint/persist for alignment (an IndexScaleProbe
      //    A/B of the range-partitioned variant paid a corpus-sized
      //    localCheckpoint write+read — ~2x build time at 2.5M docs)
      //    and the WRITTEN layout is byte-stable across runs;
      //  - a head term spreads over all IxSlices slices (~df/4096
      //    rows per local-rank group: int-safe and sort-spill-bounded
      //    up to ~2^42 postings per term);
      //  - per-slice counts/offsets are tiny (≤ IxSlices rows per
      //    term) and term stats ride them, so no second corpus
      //    aggregation. Long arithmetic end to end. Shards are no
      //    longer doc_id-contiguous GLOBALLY (they are within a
      //    slice) — a layout detail: consumers explode and union
      //    shards, arrays stay sorted within each shard, and
      //    IndexSpec's scan-path equivalence pins the semantics.
      // the slice id is computed ONCE (review r19): the offset join's
      // alignment rests on both sides deriving the IDENTICAL slice of
      // each row — one `sliced` frame makes that invariant structural
      // instead of two textually-duplicated expressions
      val sliced = tf.withColumn("_ix_sl",
        pmod(xxhash64(col("doc_id")), lit(IxSlices)))
      val offs = sliced
        .groupBy(col("term").as("_ix_t"), col("_ix_sl").as("_ix_p"))
        .agg(count(lit(1)).as("_ix_c"), sum("tf").as("_ix_cfp"))
        .withColumn("_ix_off", coalesce(sum("_ix_c").over(
          Window.partitionBy("_ix_t").orderBy("_ix_p")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("df",
          sum("_ix_c").over(Window.partitionBy("_ix_t")))
        .withColumn("cf",
          sum("_ix_cfp").over(Window.partitionBy("_ix_t")))
        .select("_ix_t", "_ix_p", "_ix_off", "df", "cf")
      sliced
        .join(offs, col("term") === col("_ix_t") &&
          col("_ix_sl") === col("_ix_p"))
        .withColumn("_ix_lrk", row_number().over(
          Window.partitionBy("term", "_ix_sl").orderBy("doc_id"))
          .cast("bigint"))
        .withColumn("shard", expr(
          s"CAST((_ix_lrk + _ix_off - 1) div CAST($maxPostings AS BIGINT)" +
            " AS INT)"))
        .groupBy("term", "shard", "df", "cf")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
          .as("postings"))
        .select("term", "shard", "postings", "df", "cf")
    } else {
      tf.groupBy("term")
        .agg(
          sort_array(collect_list(struct(col("doc_id"), col("tf"))))
            .as("postings"),
          count(lit(1)).as("df"), sum("tf").as("cf"))
    }

  /** Default postings-row bound: the sharded layout measured BETTER on
    * build time, scoring time, AND peak memory at 2.5M docs
    * (BENCH_NOTES §3g: 35.5 s vs 41.8 s build, 9.9 s vs 14–21 s
    * scoring, 10.8 GB vs 18+ GB heap), and it is the only layout that
    * survives head-term skew at corpus scale — so it is the DEFAULT
    * (r11; compact was). The shard ranking itself runs only when some
    * term could fill a second shard: with at most maxPostings docs
    * holding a token, every shard id is 0 and [[writeInverted]] builds
    * the rows with the compact aggregation plus a constant shard.
    * maxPostings = 0 still writes the compact layout (no `shard`
    * column) at any size.
    */
  val DefaultMaxPostings: Int = 65536

  /** Inverted postings layout: one row per term carrying its full
    * postings list (doc_id-sorted) plus precomputed df/cf, with doc
    * lengths in a small side table. This is the SELECTIVE-query scale
    * path the doc-vector layout can't offer: a query touches only its
    * own terms' rows, and because the postings file is term-sorted the
    * literal `term IN (...)` predicate prunes parquet row groups at the
    * scan (`PushedFilters`, asserted in IndexSpec) — the Spark analog
    * of an HBase point-Get per term (SURVEY §3.3), without the RPC.
    */
  def writeInverted(docs: DataFrame, path: String, files: Int = 0,
                    maxPostings: Int = DefaultMaxPostings): Unit = {
    require(maxPostings >= 0,
      s"maxPostings must be >= 0 (0 = compact layout), got $maxPostings")
    // persist every stage: the doc count, the range partitioner's
    // boundary-sampling job, the postings shuffle write, and the doclen
    // write are FOUR actions over the same tokenize subtree — uncached,
    // the corpus would be tokenized four times (the repo's
    // no-repeated-tokenize rule applies across actions exactly like
    // curateCorpus/spamFilter)
    val tf = TextOps.termFreqs(docs).persist()
    val doclen = tf.groupBy("doc_id").agg(sum("tf").as("dl")).persist()
    try {
      // every term's df is at most the number of docs holding a token,
      // and shard = (rank - 1) div maxPostings with rank <= df: when
      // that count fits one shard, every shard id is 0 and the slice
      // ranking (windows, join back, row_number) would compute zeros
      val agged =
        (if (maxPostings > 0 && doclen.count() <= maxPostings)
          postingsFrame(tf, 0).select(col("term"), lit(0).as("shard"),
            col("postings"), col("df"), col("cf"))
        else postingsFrame(tf, maxPostings)).persist()
      // Term-sorted row groups WITHOUT a single-task funnel: range
      // partitioning keeps global term order across files (file k's
      // terms all precede file k+1's), sortWithinPartitions orders
      // inside each, so parquet min/max row-group pruning on `term IN`
      // still applies — and the write parallelizes. (Round 2 used
      // repartition(1): the whole postings table through one task is
      // a driver-adjacent bottleneck at corpus vocabulary scale.)
      // files=0 → spark.sql.shuffle.partitions, AQE-coalescible.
      try {
        val ranged =
          if (files > 0) agged.repartitionByRange(files, col("term"))
          else agged.repartitionByRange(col("term"))
        val sortCols =
          if (maxPostings > 0) Seq("term", "shard") else Seq("term")
        ranged.sortWithinPartitions(sortCols.map(col): _*)
          .write.mode("overwrite").parquet(s"$path/postings")
      } finally { agged.unpersist(); () }
      doclen.write.mode("overwrite").parquet(s"$path/doclen")
    } finally { doclen.unpersist(); tf.unpersist(); () }
  }

  /** Retrieval from the inverted layout. The query-term set is driver
    * material (topics files are tiny) — inlining it as a LITERAL IN
    * predicate is what lets the parquet reader prune; a join could not
    * push down. Everything else streams: no per-term RPC, one explode
    * of exactly the matched postings.
    */
  def scoreFromInverted(spark: SparkSession, path: String, q: DataFrame,
                        partExpr: String, finalExpr: String,
                        conjunctive: Boolean, k: Int): DataFrame = {
    val terms = q.select("term").distinct().collect().map(_.getString(0)).toSeq
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("term").isin(terms: _*))
    val tf = post
      .select(col("term"), col("df"), col("cf"),
        explode(col("postings")).as("p"))
      .select(col("term"), col("df"), col("cf"),
        col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
    val dl = spark.read.parquet(s"$path/doclen")
    val cs = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tokens"))
    // the postings rows carry df/cf; dl is the side table's, joined
    // after the query join
    Retrieval.scoreMatched(Retrieval.matchedRows(tf, q, cs, dl -> "doc_id"),
      partExpr, finalExpr, conjunctive, k)
  }

  /** Retrieval from the materialized index — identical semantics to
    * [[Retrieval.scoreFor]] on the raw corpus (asserted in IndexSpec),
    * without re-tokenizing.
    */
  def scoreFromIndex(dv: DataFrame, q: DataFrame, partExpr: String,
                     finalExpr: String, conjunctive: Boolean, k: Int): DataFrame = {
    // dl is the row's own `len` (buildDocVectors writes len = Σ tf).
    // df/cf come from the SAME exploded frame the scorer scans — one
    // definition of tf, so the stats and the matched rows can never
    // disagree (tf has one row per (doc, term), so count(*) = df). The
    // tstats and collection aggregations share no exchange with the
    // matched rows, so the plan still reads the index three times per
    // query batch — callers batching many queries should persist `dv`.
    val rows = dv.select(col("doc_id"), col("len").as("dl"),
      explode(col("dv")).as(Seq("term", "tf")))
    val cs = dv.agg(count(lit(1)).as("n_docs"), sum("len").as("n_tokens"))
    Retrieval.scoreMatched(
      Retrieval.matchedRows(rows, q, cs,
        broadcast(Retrieval.tstatsFor(rows, q)) -> "term"),
      partExpr, finalExpr, conjunctive, k)
  }
}
