package graft.pipeline

import graft.functions.DetHash
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.util.LongAccumulator

import scala.reflect.ClassTag

/** Public dedup API over any (doc_id, text) corpus — the library
  * surface behind the px02/px03/px19/px21 gated queries (which remain
  * the oracle-checked contract for this math).
  *
  * Scale design: hashing is a narrow map; every join/agg is keyed by
  * signature or doc id; candidate generation is LSH-bucketed (never
  * all-pairs). All hashes are md5-derived (DetHash) so results are
  * reproducible across engines and runs.
  */
object Dedup {

  /** MinHash signatures, long form (doc_id, i, mh), i ∈ 0..15 — one
    * md5 per 3-shingle, Kirsch-Mitzenmacher double hashing for the
    * 16-member family, minima in ONE aggregation pass.
    */
  def minhash(docs: DataFrame): DataFrame =
    minhashToLong(minhashWide(docs))

  /** MinHash signatures, WIDE form (doc_id, m0..m15) — ONE groupBy
    * pass; both the long form and the band signatures are NARROW
    * projections of it (no further shuffle). The canonical shape to
    * MATERIALIZE when several ACTIONS consume the same signatures
    * (write it as a parquet artifact at scale); within one action,
    * parallel recompute of this subtree measured faster than an
    * in-query cache (BENCH_NOTES §2, round-4 A/B).
    */
  def minhashWide(docs: DataFrame): DataFrame = {
    // md5_h1h2: both digest slices in one native expression (no hex
    // string materialization; bit-equality asserted in VecOpsSpec)
    val hs = TextOps.shingleRows(docs, 3)
      .withColumn("hh", expr("md5_h1h2(s)"))
      .select(col("doc_id"),
        col("hh.h1").as("h1"), col("hh.h2").as("h2"))
    val mins = (0 until 16).map(i => min(expr(s"h1 + $i * h2")).as(s"m$i"))
    hs.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Wide (doc_id, m0..m15) → long (doc_id, i, mh); narrow stack. */
  def minhashToLong(wide: DataFrame): DataFrame =
    wide.selectExpr("doc_id",
      s"stack(16, ${(0 until 16).map(i => s"$i, m$i").mkString(", ")}) AS (i, mh)")

  /** MinHash signatures with NO aggregation at all: the per-doc minima
    * of [[minhashWide]] folded into array expressions (one
    * `transform` materializes md5_h1h2 per shingle ONCE; 16 array
    * folds take the minima), so the signature is a narrow per-row map
    * — the form a readStream can band and dedup on with no pre-state
    * shuffle (streaming/NearDupStream). Emits the same (doc_id,
    * m0..m15) values as minhashWide (spec-asserted), carries every
    * other input column through (e.g. the ingest timestamp a
    * watermark rides on), and drops docs with < 3 tokens (no
    * shingles ⇒ no near-dup signal; minhashWide drops them too).
    */
  def minhashWideNarrow(docs: DataFrame): DataFrame = {
    // reserved-name refusal (review r19, the Sharding.epochAssign
    // convention): an input column named _mh_sh/_mh_hh would still be
    // silently OVERWRITTEN by the withColumns below and the internal
    // value re-selected as the user's column through the passthrough;
    // an input m0..m15 would collide with the signature output and
    // break the downstream bandSigs split. Refuse loudly instead.
    {
      val reserved = docs.columns.filter(c =>
        c.equalsIgnoreCase("_mh_sh") || c.equalsIgnoreCase("_mh_hh") ||
          (0 until 16).exists(i => c.equalsIgnoreCase(s"m$i")))
      require(reserved.isEmpty,
        s"minhashWideNarrow reserves columns m0..m15/_mh_sh/_mh_hh for " +
          s"the signature output; the input already carries " +
          s"${reserved.mkString(", ")} — rename first")
    }
    // _mh_-prefixed internals (review r18): the bare names sh/hh
    // silently OVERWROTE same-named input columns, corrupting the
    // passthrough this scaladoc promises (the _pb_ convention of
    // perplexityBucketsFromScores applied here)
    val withH = docs
      .withColumn("_mh_sh", TextOps.shinglesCol(col("text"), 3))
      .filter(size(col("_mh_sh")) > 0)
      .withColumn("_mh_hh", expr("transform(_mh_sh, s -> md5_h1h2(s))"))
    val mins = (0 until 16).map(i => expr(
      s"aggregate(_mh_hh, CAST(9223372036854775807 AS BIGINT)," +
        s" (a, x) -> least(a, x.h1 + $i * x.h2))").as(s"m$i"))
    withH.select(docs.columns.map(col).toSeq ++ mins: _*)
  }

  /** Band signatures (…, band, sig) straight from the wide form —
    * a narrow projection (stack + concat), NO extra shuffle. The
    * round-2 path stacked to long form then re-grouped per (doc, band):
    * a whole groupBy exchange whose result was a deterministic
    * function of columns already on the row. Non-signature columns
    * (doc_id, a streaming ingest timestamp, …) pass through.
    */
  def bandSigs(wide: DataFrame): DataFrame = {
    val bandCases = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"CAST(m${b * 4 + r} AS STRING)")
      s"$b, concat_ws(',', ${cols.mkString(", ")})"
    }
    // passthrough as col() references, not selectExpr strings (review
    // r19): a passthrough column whose name is not a plain SQL
    // identifier — `event-time`, a dotted name — used to PARSE as an
    // expression (`event - time`) and fail at plan time, breaking the
    // any-column passthrough minhashWideNarrow promises for streams
    val passthrough = wide.columns.filterNot(_.matches("m\\d+")).map(col)
    wide.select(passthrough :+
      expr(s"stack(4, ${bandCases.mkString(", ")}) AS (band, sig)"): _*)
  }

  /** (d1, d2) pairs sharing a full band signature, d1 < d2. */
  def candidatesFromBands(bands: DataFrame): DataFrame =
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

  /** LSH banding candidates (4 bands × 4 rows): (d1, d2) pairs sharing
    * a full band signature, d1 < d2.
    */
  def lshCandidates(docs: DataFrame): DataFrame =
    candidatesFromBands(bandSigs(minhashWide(docs)))

  /** Star-shaped LSH candidate edges: per (band, sig) bucket, one edge
    * from the bucket-minimum doc to every other member. Connects
    * EXACTLY the docs [[candidatesFromBands]]'s all-pairs clique
    * connects (both link precisely the members sharing a band
    * signature), so connected components are identical — but the
    * output is O(bucket) rows instead of O(bucket²). The r6 N=500
    * rehearsal measured why this matters: replica mega-buckets (the
    * boilerplate-text shape every 100 TB corpus has) make the clique
    * op quadratic per bucket (39.6M pairs at N=50 → ~4B extrapolated
    * at N=500) while the star stays linear. Pair-exact consumers
    * (Jaccard verification px04, the estimator check px27, the
    * oracle-pinned px03/px08) keep the clique op; connectivity
    * consumers ([[nearDupKeepers]]) use this.
    */
  def lshEdges(docs: DataFrame): DataFrame =
    lshEdgesFromSigs(minhashWide(docs))

  /** [[lshEdges]] from already-computed WIDE signatures (doc_id,
    * m0..m15) — the signature-store path: sign the corpus once, build
    * edges, verdicts, and store appends from the same frame.
    */
  def lshEdgesFromSigs(sigs: DataFrame): DataFrame =
    bandSigs(sigs)
      .withColumn("d1", org.apache.spark.sql.functions.min("doc_id")
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "sig")))
      .filter(col("doc_id") =!= col("d1"))
      .select(col("d1"), col("doc_id").as("d2"))
      .distinct()

  /** Bidirectional (node, other) edge list plus identity edges — the
    * propagation graph shared by [[clusters]] and
    * [[connectedComponents]] (one definition so edge symmetrization
    * can never diverge between the two paths). Both directions come
    * from ONE read of `edges`, so a narrow step behind them (the
    * contraction in [[connectedComponents]]) runs once per partition.
    */
  private def biEdges(ids: DataFrame, edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("d1").as("node"), col("d2").as("other")),
        struct(col("d2").as("node"), col("d1").as("other")))).as("e"))
      .select("e.node", "e.other")
      .unionByName(ids.select(col("doc_id").as("node"),
        col("doc_id").as("other")))

  /** One min-label propagation superstep: lbl(u) ← min over u's
    * neighborhood (identity edges make it include u itself).
    */
  private def propagate(bi: DataFrame, labels: DataFrame): DataFrame = bi
    .join(labels.select(col("doc_id").as("other"), col("lbl").as("olbl")),
      Seq("other"))
    .groupBy(col("node").as("doc_id"))
    .agg(min("olbl").as("lbl"))

  /** Min-label propagation over a candidate edge list, `rounds` fixed
    * supersteps → (doc_id, lbl). Identity-edge formulation: each round
    * references the previous labels once, so the plan stays linear.
    */
  def clusters(docs: DataFrame, edges: DataFrame, rounds: Int = 3): DataFrame = {
    // loud parameter guard (review r19, the file convention): rounds
    // <= 0 would silently return identity labels — every doc its own
    // cluster, dedup a no-op — instead of raising like simhash's bits
    // or leakageSplit's folds
    require(rounds >= 1, s"clusters needs rounds >= 1, got $rounds")
    val ids = docs.select("doc_id")
    // EAGER checkpoint, same rationale as connectedComponents: each
    // propagation round references bi, and without materialization the
    // full minhash→LSH→candidate chain behind it is re-derived per
    // round (px45's plan carried 19 parquet scans; 3 with this).
    // Unlike the rejected in-query persists (parallel recompute won
    // those A/Bs), the rounds are SEQUENTIAL consumers — recompute
    // here is rounds× the chain, not a parallel overlap. Measured r5
    // (px19+px21+px45 trio, matched conditions, 2×2 runs):
    // 9.2–9.9 s → 8.2–8.3 s, the win concentrated in the multi-read
    // consumers (px45 3.3 → 2.7, px21 2.2 → 1.9).
    val bi = biEdges(ids, edges).localCheckpoint()
    var labels = ids.select(col("doc_id"), col("doc_id").as("lbl"))
    for (_ <- 1 to rounds)
      labels = propagate(bi, labels)
    labels
  }

  /** Block budget of [[connectedComponents]]: blocks shorten label
    * chains geometrically (O(log diameter) blocks), so no real graph
    * comes near it; running out refuses instead of returning partial
    * labels.
    */
  private final val MaxBlocks = 50

  /** Edges per union-find chunk in [[contractEdges]]: a task holds the
    * arrays of at most this many edges (a few MB) at any partition
    * size.
    */
  private[pipeline] final val ContractChunk = 1 << 16

  /** EXACT connected components over a candidate edge list: min-label
    * propagation WITH POINTER JUMPING to fixpoint — the scale-correct
    * upgrade of [[clusters]]' fixed-round approximation (a 3-round
    * pass mislabels any component of diameter > 3, and real dup graphs
    * get big: the sf0.1 LSH graph has a 1942-doc component of diameter
    * ≥ 37 from near-dup transitivity).
    *
    * Three phases (the contract-then-propagate shape of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014):
    *  1. [[contractEdges]] replaces each partition's edges by star
    *     edges to their local component minimum — narrow, inside the
    *     edge frame's checkpoint job.
    *  2. Only when one chunk held every edge, so that each component
    *     is now a star around its minimum: seed labels with one
    *     propagation from the docs' identity labels and certify them.
    *     Such a graph stops here, after two propagations and one count.
    *  3. Otherwise, or if the seed is not certified, run blocks of four
    *     propagations, two label shortcuts (lbl ← lbl(lbl)) and one
    *     certifying propagation, each block checkpointed so the plan
    *     depth stays constant, until the certificate holds. Without a
    *     seed the first block starts from the identity labels, as it
    *     did before the contraction: edges spread over several chunks
    *     pay no seed round.
    *
    * Labels start from `docs` only: an edge endpoint absent from
    * `docs` is labeled if its component holds a doc and left out
    * otherwise, and edges with a NULL endpoint connect nothing.
    * → (doc_id, lbl) with lbl = the component's minimum doc_id, doc_id
    * of the caller's type (bigint, or string from `Jobs.loadDocs`).
    */
  def connectedComponents(docs: DataFrame, edges: DataFrame): DataFrame = {
    // Every checkpoint is taken LAZILY and materialized by the one job
    // that follows it, so the frame exists before that job can fail and
    // the finally below releases it on every exit path. The
    // materializing job is a block's only consumer until it ends
    // (r3/r4 lesson: lazily-checkpointed blocks with CONCURRENT consumer
    // scans hit the block-level compute-or-wait lock storm).
    val ids = docs.select("doc_id")
    val chunks = docs.sparkSession.sparkContext.longAccumulator
    val contracted = contractEdges(edges, chunks)
    val bi = biEdges(ids, contracted.getOrElse(edges))
      .localCheckpoint(eager = false)
    def step(l: DataFrame): DataFrame = propagate(bi, l)
    // Pointer jump: lbl(u) ← lbl(lbl(u)). Labels are doc ids, every
    // doc is present in l, and lbl(u) is in u's component, so the
    // inner self-join is total and component-preserving; labels only
    // decrease. Two jumps per block square the shortcut depth.
    def jump(l: DataFrame): DataFrame = l
      .join(l.select(col("doc_id").as("lbl"), col("lbl").as("plbl")),
        Seq("lbl"))
      .select(col("doc_id"), col("plbl").as("lbl"))
    // Convergence = EDGE CONSISTENCY, not label change: min-label
    // propagation is at its (unique, true-CC) fixpoint iff every edge's
    // endpoints agree — a symmetric edge forces lbl(u) ≤ lbl(v) ≤
    // lbl(u) at any fixpoint. This certifies convergence from the
    // CURRENT labels alone, so a graph that converges within one block
    // pays ONE check instead of a confirming extra block.
    // Certifying propagate: same superstep, but the aggregation also
    // keeps MAX over the closed neighborhood. A node with lbl ≠ mx has
    // an incident edge whose endpoints disagree; zero such nodes ⟺
    // every edge is label-consistent (the identity edges make the
    // neighborhood closed, so both directions of each edge are seen).
    // The certificate rides the step's own shuffle, and it certifies
    // the returned labels too: if its input labels are edge-consistent,
    // each component is uniformly labeled and the step is the identity.
    def certify(l: DataFrame): DataFrame = bi
      .join(l.select(col("doc_id").as("other"), col("lbl").as("olbl")),
        Seq("other"))
      .groupBy(col("node").as("doc_id"))
      .agg(min("olbl").as("lbl"), max("olbl").as("mx"))

    var blocks = List.empty[DataFrame] // block checkpoints owned, newest first
    // checkpoint a certifying block → its inconsistent-node count, then
    // release the block it superseded (review r19: superseded blocks
    // would otherwise pin executor storage for the session)
    def certified(block: DataFrame): Long = {
      blocks = block.localCheckpoint(eager = false) :: blocks
      val inconsistent = blocks.head.filter(col("lbl") =!= col("mx")).count()
      blocks.tail.foreach(unpersistCheckpoint)
      blocks = blocks.take(1)
      inconsistent
    }
    try {
      checkpointRdds(bi).foreach(_.count())
      val identity = ids.select(col("doc_id"), col("doc_id").as("lbl"))
      // the seed round, only where the contraction made every component
      // a star (-1: not certified yet). A retried task can only raise
      // the chunk count: that skips the seed, never changes a label.
      var inconsistent =
        if (contracted.isDefined && chunks.value <= 1)
          certified(certify(step(identity)))
        else -1L
      var n = 0
      while (inconsistent != 0) {
        // the contract is EXACT components
        if (n == MaxBlocks) throw new IllegalArgumentException(
          s"requirement failed: connectedComponents did not converge " +
            s"within $MaxBlocks blocks ($inconsistent nodes still have a " +
            "label-inconsistent edge)")
        // four propagations + two shortcuts per CHECKPOINTED block: the
        // per-action scheduling constant dominates at small scale, so
        // work-per-action is the lever (measured: 17 one-step blocks ≈
        // 10 s, 6 three-step blocks ≈ 5 s on the sf0.1 giant component;
        // a sweep over (steps, jumps) mixes found 4 + 2 converging in 4
        // blocks instead of 5, identical labels for every mix)
        val from = blocks.headOption.fold(identity)(_.drop("mx"))
        inconsistent = certified(certify(
          jump(jump(step(step(step(step(from))))))))
        n += 1
      }
      val labels = blocks.head.drop("mx")
      blocks = Nil // the returned labels ride their own checkpoint
      labels
    } finally {
      blocks.foreach(unpersistCheckpoint)
      unpersistCheckpoint(bi)
    }
  }

  /** Partition-local contraction of a (d1, d2) edge list: a union-find
    * over each chunk of [[ContractChunk]] edges of a partition replaces
    * them by (local root, node) star edges. Narrow, never more rows
    * than it reads, and component-exact: each star spans nodes the
    * input connects, and its root is their minimum id, so a component
    * that lies in one chunk becomes one star. `mapPartitions`, because
    * union-find is sequential within a partition and no built-in
    * expresses it (PLANS.md). `chunks` counts the non-empty chunks the
    * job that computes the result saw. Bigint and string ids keep
    * their type; any other id type → None (callers use the edges
    * uncontracted, still exact).
    */
  private def contractEdges(edges: DataFrame,
                            chunks: LongAccumulator): Option[DataFrame] = {
    val e = edges.select("d1", "d2")
      .filter(col("d1").isNotNull && col("d2").isNotNull)
    val enc = org.apache.spark.sql.Encoders.row(e.schema)
    e.schema.map(_.dataType) match {
      case Seq(LongType, LongType) =>
        Some(e.mapPartitions(localStars[Long](_, chunks))(enc))
      case Seq(StringType, StringType) =>
        Some(e.mapPartitions(localStars[String](_, chunks))(enc))
      case _ => None
    }
  }

  /** One partition's (d1, d2) rows → (root, node) star edges, chunk by
    * chunk: the chunk's distinct ids sorted into a primitive array (so
    * index order is id order), a union-find over their indices that
    * always links the larger root under the smaller (every root is its
    * set's minimum id), then one star edge per non-root id. For string
    * ids the local order is Java's UTF-16 order, which can differ from
    * Spark's UTF-8 byte order on supplementary characters; a root is
    * then a non-minimum member, which costs propagation, never a
    * label.
    */
  private def localStars[T: ClassTag: Ordering](
      rows: Iterator[Row], chunks: LongAccumulator): Iterator[Row] =
    Iterator.continually {
      val ends = Array.newBuilder[T]
      var n = 0
      while (n < ContractChunk && rows.hasNext) {
        val r = rows.next()
        ends += r.getAs[T](0) += r.getAs[T](1)
        n += 1
      }
      ends.result()
    }.takeWhile(_.nonEmpty).flatMap { ends =>
      chunks.add(1)
      val ids = ends.sorted
      var m = 0
      for (i <- ids.indices)
        if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
      val parent = Array.range(0, m)
      def find(i0: Int): Int = {
        var i = i0
        while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
        i
      }
      def index(x: T): Int = ids.search(x, 0, m).insertionPoint
      for (k <- ends.indices by 2) {
        val a = find(index(ends(k)))
        val b = find(index(ends(k + 1)))
        if (a < b) parent(b) = a else parent(a) = b
      }
      Iterator.range(0, m).map(i => (find(i), i)).collect {
        case (r, i) if r != i => Row(ids(r), ids(i))
      }
    }

  /** The localCheckpoint RDDs behind `df` (every LogicalRDD in its
    * analyzed plan).
    */
  private[pipeline] def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Unpersist the localCheckpoint block storage behind `df`. Only
    * called on frames the caller created and owns (here, in [[Bpe]]
    * and in `NearDupStream`).
    */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking = false))

  /** Near-dup survivor filter: keep each cluster's min-id doc.
    * → the kept (doc_id) set as a one-column frame for a semi-join.
    *
    * r6 upgrade: EXACT components over star edges (was: 3-round
    * [[clusters]] over the all-pairs clique). Same survivors on any
    * graph the fixed-round contract labeled correctly, but no
    * mislabeling on dup chains of diameter > 3 and no quadratic
    * mega-bucket blowup — the at-scale shape on both axes. The
    * fixed-round contract remains available as [[clusters]] (px19/
    * px21 pin it against a round-exact oracle).
    */
  def nearDupKeepers(docs: DataFrame): DataFrame =
    nearDupKeepersFromSigs(minhashWide(docs), docs)

  /** [[nearDupKeepers]] from already-computed WIDE signatures — lets a
    * caller who needs the signatures again (the store admit hand-off
    * in `Jobs.prepareTrainingData`) sign the corpus ONCE.
    */
  def nearDupKeepersFromSigs(sigs: DataFrame, docs: DataFrame): DataFrame =
    connectedComponents(docs, lshEdgesFromSigs(sigs))
      .groupBy("lbl").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Vote expression for simhash bit `b` over columns (h, tf) — ONE
    * string reused by both the Spark plan and the px05/px18 DuckDB
    * oracles (cross-engine rule: never two copies of a gated formula).
    */
  def voteExpr(b: Int): String =
    s"CASE WHEN (h % ${1L << (b + 1)}) >= ${1L << b} THEN tf ELSE -tf END"

  /** SimHash signatures: `bits`-bit (≤ 60) fingerprints from
    * tf-weighted per-term hash-bit votes → (doc_id, simhash BIGINT).
    * All `bits` votes accumulate in ONE doc-keyed aggregation (bits
    * sum columns), never a per-bit shuffle — and never a (doc, term)
    * shuffle either (§0q): every token OCCURRENCE votes ±1 directly,
    * which is bit-identical to the tf-weighted per-term form
    * (Σ_terms ±tf ≡ Σ_occurrences ±1, probe-verified both directions)
    * while skipping the whole termFreqs exchange. The DuckDB oracle
    * twins (px05/px18) keep the per-term tf form over the SAME
    * [[voteExpr]] string — equivalent by the identity above, and the
    * oracle compare proves it per run. Measured (`probes/px18.log`): signature build 0.53 → 0.42 s at sf0.1,
    * 2.0 → 1.74 s at 8× replication.
    */
  def simhash(docs: DataFrame, bits: Int): DataFrame = {
    // h60 carries 60 hash bits — beyond that the vote thresholds can't
    // be reached (and 1L<<63 overflows), so higher bits would silently
    // be constant zero
    require(bits >= 1 && bits <= 60,
      s"simhash bits must be in [1, 60] (h60 carries 60 hash bits), got $bits")
    val votes = (0 until bits).map(b => sum(expr(voteExpr(b))).as(s"v$b"))
    val packed = (0 until bits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString("CAST(", " + ", " AS BIGINT)")
    TextOps.tokens(docs)
      .withColumn("h", DetHash.h60(col("term")))
      .withColumn("tf", lit(1L)) // per-occurrence vote, see scaladoc
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), expr(packed).as("simhash"))
  }

  /** SimHash near-dup pairs: 48-bit signatures, candidates from
    * 3×16-bit band equality in LONG form (ONE self-join whose sides
    * share a reused exchange), verified with the native codegen'd
    * `hamming64` ≤ `maxHd` → (d1, s1, d2, s2, hd).
    *
    * Verify BEFORE the pair distinct (§0q): hd is a pure function of
    * the pair, so both orders are correct, but filtering first means
    * the distinct shuffles only the hd ≤ maxHd SURVIVORS (tiny on a
    * real corpus) instead of every band-candidate pair — at 8×
    * replication that is 9.9M candidate rows cut to ~0.4M before the
    * exchange. hamming64 is a codegen'd narrow op; evaluating it on
    * multi-band duplicate rows costs nothing by comparison
    * (bench-neutral at sf0.1, `probes/px18.log`).
    */
  def simhashNearDups(docs: DataFrame, maxHd: Int = 3): DataFrame = {
    val sim = simhash(docs, 48)
    val bandsLong = sim.selectExpr("doc_id", "simhash",
      "stack(3, 0, simhash % 65536, 1, (simhash div 65536) % 65536," +
        " 2, simhash div 4294967296) AS (bi, bv)")
    bandsLong.alias("a")
      .join(bandsLong.alias("c"),
        col("a.bi") === col("c.bi") && col("a.bv") === col("c.bv") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("d1"), col("a.simhash").as("s1"),
        col("c.doc_id").as("d2"), col("c.simhash").as("s2"))
      .withColumn("hd", expr("hamming64(s1, s2)"))
      .filter(col("hd") <= maxHd)
      .distinct()
  }

  /** Repeated n-gram SPAN detection — the n-gram-granularity shape of
    * exact-substring dedup (Lee et al. 2022, arXiv:2107.06499, which
    * removes repeated ≥50-token spans found via a suffix array; the
    * distributed equivalent indexes fixed-n rolling n-grams and merges
    * overlapping hits back into maximal spans). A position-carrying
    * n-gram is "duplicated" iff its hash occurs in ≥ 2 DISTINCT docs;
    * per doc, overlapping duplicated n-gram intervals [pos, pos+n−1]
    * are merged (gaps-and-islands window) into spans.
    * → (doc_id, n_dup_ngrams, n_spans, dup_tokens, dl, dup_frac) for
    * docs with ≥ 1 duplicated n-gram.
    *
    * Scale: positions are a narrow map; the dup set is found with one
    * hash-keyed aggregation using min<max instead of count(distinct);
    * hits come back via a hash-keyed join (only duplicated hashes
    * survive the build side); the window + final agg shuffle doc-keyed
    * rows once. No self-join ever materializes doc pairs — cost is
    * O(tokens), not O(dup²), which is what makes span-level dedup
    * feasible where pairwise comparison is not.
    */
  def dupSpans(docs: DataFrame, n: Int = 5): DataFrame = {
    // dl = size(toks) rides the shingle rows (an int per row) so the
    // final ratio join needs NO second corpus-wide tokenize pass
    // (review r18: the old docLengths join re-tokenized 100% of docs
    // to fetch dl for the typically tiny duplicated set; same values —
    // docLengths is size() of this same canonical token array)
    val sh = docs
      .select(col("doc_id"),
        graft.text.TextOps.tokArrayCol(col("text"))
          .as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        posexplode(TextOps.shinglesFromToks(col("toks"), n))
          .as(Seq("pos0", "s")))
      .select(col("doc_id"), col("dl"), expr("pos0 + 1").as("pos"),
        DetHash.h60(col("s")).as("h"))
    val dup = sh.groupBy("h")
      .agg(min("doc_id").as("dmin"), max("doc_id").as("dmax"))
      .filter(col("dmin") < col("dmax")).select("h")
    val w = "PARTITION BY doc_id ORDER BY pos"
    val hits = sh.join(dup, Seq("h"))
      .withColumn("prev_end", expr(
        s"max(pos + ${n - 1}) OVER ($w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"))
      .withColumn("is_new", expr(
        "CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END"))
      .withColumn("island", expr(s"sum(is_new) OVER ($w)"))
    val spans = hits.groupBy("doc_id", "island")
      .agg(count(lit(1)).as("n_g"), max("dl").as("dl"),
        expr(s"CAST(max(pos) - min(pos) + $n AS BIGINT)").as("span_len"))
    spans.groupBy("doc_id")
      .agg(expr("CAST(sum(n_g) AS BIGINT)").as("n_dup_ngrams"),
        count(lit(1)).as("n_spans"),
        expr("CAST(sum(span_len) AS BIGINT)").as("dup_tokens"),
        max("dl").as("dl"))
      .withColumn("dup_frac", expr("round(dup_tokens / dl, 6)"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 §2): semantic
    * dedup over an embedding column — k-means the corpus into
    * `kClusters`, then compare pairs ONLY within each cluster and drop
    * every vector with a lower-id neighbor at cosine ≥ `threshold`.
    * → (vid, cid, keep).
    *
    * Scale design: pair count is k·(n/k)²/2 = n²/(2k), so the
    * quadratic term is cut by the cluster count — k MUST grow with n
    * (Abbas et al. run k≈11k on LAION-440M; a FIXED k is O(n²) again,
    * the round-3 px44 verdict). The codebook is built once
    * ([[Ann.kmeansCentroids]], tiny, broadcast), assignment is one
    * narrow pass, and the within-cluster self-join shuffles on cid —
    * no cross-cluster pair ever materializes. SemDedupSpec asserts the
    * pair-count scaling on this API.
    *
    * Zero-norm embeddings (padding rows, dead docs) have NO defined
    * cosine. They are EXCLUDED from pairing (the `Ann.cosineTopK`
    * zero-norm rule — without the filter one zero vector would
    * DIVIDE_BY_ZERO the whole job under the session's ANSI default,
    * review r14) and always return keep = 1, including two IDENTICAL
    * all-zero vectors: semantic dedup has no defined similarity for
    * them — route exact duplicates (zero-norm ones included) through
    * [[exactKeepers]], the exact-dup tool. NaN-norm embeddings (a
    * NaN/Inf element from an upstream normalize) take the SAME
    * sit-out-and-keep path (review r19): Spark orders NaN ABOVE every
    * value, so an unguarded NaN norm passed `> 0` and its NaN cosine
    * passed `>= threshold` — one poisoned vector silently dropped
    * every higher-id member of its cluster.
    */
  def semDedup(corpus: DataFrame, kClusters: Int, iters: Int,
               threshold: Double,
               idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame = {
    // allowFewer: semDedup's k is a CEILING — fewer vectors than
    // clusters means every vector seeds its own cluster (a total
    // partition with nothing to pair), the EdgeCaseSpec contract
    val cents = Ann.kmeansCentroids(corpus, kClusters, iters, idCol,
      embCol, allowFewer = true)
    val assign = Ann.ivfAssign(corpus, broadcast(cents), idCol, embCol)
    val arr = corpus
      .select(col(idCol).as("vid"), col(embCol).as("emb"))
      .withColumn("nrm", expr("norm2_f64(emb)"))
      .join(assign, Seq("vid"))
    val a = arr.select(col("cid"), col("vid").as("v1"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = arr.select(col("cid"), col("vid").as("v2"),
      col("emb").as("eb"), col("nrm").as("nb"))
    // e-notation via toString keeps the literal DOUBLE (cross-engine
    // rule); round-then-compare pins the FP boundary deterministically.
    // Zero-norm rows sit out the pairing (see scaladoc) — both sides,
    // so they neither drop others nor get dropped.
    val dropped = a.filter(col("na") > 0 && !isnan(col("na")))
      .join(b.filter(col("nb") > 0 && !isnan(col("nb"))), Seq("cid"))
      .filter(col("v1") < col("v2"))
      .withColumn("cos",
        expr(s"round(dot_f64(ea, eb) / (sqrt(na) * sqrt(nb)), 6)"))
      // the !isnan belt covers an Inf/Inf cosine from Inf ELEMENTS
      // whose norm itself read finite-positive — undefined similarity
      // never drops a doc
      .filter(col("cos") >= lit(threshold) && !isnan(col("cos")))
      .select(col("v2").as("vid")).distinct()
    a.select(col("v1").as("vid"), col("cid"))
      .join(dropped.withColumn("hit", lit(1)), Seq("vid"), "left")
      .withColumn("keep",
        expr("CAST(CASE WHEN hit IS NULL THEN 1 ELSE 0 END AS INT)"))
      .select("vid", "cid", "keep")
  }

  /** Incremental near-dup check of a NEW batch against an EXISTING
    * corpus — the production shape of LSH dedup at 100 TB: the corpus
    * is deduplicated ONCE, its MinHash signatures are kept as an
    * artifact, and each arriving batch is signed, band-joined against
    * the signature store, and exact-verified — WITHOUT ever
    * re-processing the corpus. This entry point recomputes the
    * existing side's signatures inline (convenient at test scale);
    * production callers persist [[minhashWide]] output as parquet and
    * pass it to [[incrementalNearDupsFromSigs]], appending each
    * batch's signatures after the check.
    *
    * → one row per batch doc: (doc_id, n_cand, dup_of, jac) where
    * `n_cand` counts existing docs sharing ≥1 band signature and
    * `dup_of` is the best verified existing match (max Jaccard, min-id
    * tiebreak; NULL ⇒ novel — safe to admit). Intra-BATCH duplicates
    * are deliberately out of scope (run [[nearDupKeepers]] on the
    * batch first; the two concerns compose, they don't nest).
    */
  def incrementalNearDups(existing: DataFrame, batch: DataFrame,
                          threshold: Double = 0.5): DataFrame =
    incrementalNearDupsFromSigs(minhashWide(existing), existing,
      minhashWide(batch), batch, threshold)

  /** [[incrementalNearDups]] with both sides' WIDE signatures
    * (doc_id, m0..m15) supplied — the signature-store path (existing
    * sigs read from the persisted artifact; batch sigs from whatever
    * pass signed the arriving data).
    *
    * Scale design: the band join's existing side is the signature
    * artifact (16 longs/doc — ~10⁴× smaller than text); candidates are
    * band-bucket bounded, never all-pairs. Exact verification then
    * re-reads ONLY the candidate existing docs: a semi-join on the
    * (small, batch-bounded) candidate id set prunes `existing` BEFORE
    * it is tokenized, so corpus-side shingling cost is proportional to
    * the candidate count, not the corpus — the "fetch the handful of
    * candidate docs" step of a production dedup service.
    */
  def incrementalNearDupsFromSigs(existingSigs: DataFrame,
                                  existing: DataFrame,
                                  batchSigs: DataFrame, batch: DataFrame,
                                  threshold: Double): DataFrame = {
    // Redo idempotence (r12 advice): after a crash BETWEEN the store
    // append and the caller's commit marker, the WHOLE batch is
    // already in the store — so a replayed doc would band-candidate
    // not just against its own stored copy but against its stored
    // BATCH-MATES, skewing n_cand and possibly dup_of vs an uncrashed
    // run. Anti-join the stored band index against the batch's full
    // id set: a no-op in uncrashed runs (store ids are disjoint from
    // batch ids by the admit contract) and exact replay idempotence on
    // redo. The batch id set is |batch|-bounded, so it broadcasts.
    // Ids come from `batch` (a plain scan), NOT batchSigs — the sig
    // subtree is a tokenize+minhash aggregation that would otherwise
    // run a second time just to project ids; batch ids ⊇ sig ids and
    // id-less extras remove nothing (no band rows exist for them).
    val exBands = bandSigs(existingSigs)
      .select(col("doc_id").as("oid"), col("band"), col("sig"))
      .join(broadcast(batch.select(col("doc_id").as("oid")).distinct()),
        Seq("oid"), "left_anti")
    val newBands = bandSigs(batchSigs)
      .select(col("doc_id").as("nid"), col("band"), col("sig"))
    // Candidate list: tiny by construction (≤ |batch| × per-doc band
    // matches), consumed by THREE branches — the verification join,
    // the per-doc candidate count, and the corpus-pruning semi-join.
    // Kept LAZY deliberately: an eager localCheckpoint here was A/B'd
    // (r11, BENCH_NOTES §0d conditions, sf0.1 bench 2×) and LOST — 5.75 s
    // first / 2.58 s warm checkpointed vs 5.03 / 2.15 lazy. The
    // sign+band subtree behind each consumer dedupes to reused
    // exchanges, so parallel recompute beats the serialized
    // materialization barrier — the same verdict as the px04/px27
    // persist A/Bs (BENCH_NOTES §2).
    // (the anti-join above already removed every stored row with a
    // batch id, self-pairs included, so no nid =!= oid filter is
    // needed — a redo produces rows identical to an uncrashed run's)
    val cand = newBands.join(exBands, Seq("band", "sig"))
      .select("nid", "oid").distinct()
    // Verification corpus = candidate existing docs only. The id set
    // is bounded by |batch| × per-doc candidates, so it broadcasts;
    // the semi-join keeps the corpus scan but drops every non-candidate
    // row before the (expensive) shingle explode.
    val candDocs = existing.join(
      broadcast(cand.select(col("oid").as("doc_id")).distinct()),
      Seq("doc_id"), "left_semi")
    def hashedShingles(docs: DataFrame, id: String): DataFrame =
      TextOps.shingleRows(docs, 3)
        .select(col("doc_id").as(id), DetHash.h60(col("s")).as("sh"))
        .distinct()
    val shN = hashedShingles(batch, "nid")
    val shO = hashedShingles(candDocs, "oid")
    val szN = shN.groupBy("nid").agg(count(lit(1)).as("sa"))
    val szO = shO.groupBy("oid").agg(count(lit(1)).as("sb"))
    val inter = cand.join(shN, Seq("nid"))
      .join(shO, Seq("oid", "sh"))
      .groupBy("nid", "oid").agg(count(lit(1)).as("inter"))
    // round-then-compare pins the FP boundary deterministically
    // (cross-engine rule, same as semDedup's cosine gate)
    val best = inter.join(szN, Seq("nid")).join(szO, Seq("oid"))
      .withColumn("jac", expr("round(inter / (sa + sb - inter), 6)"))
      .filter(col("jac") >= lit(threshold))
      .withColumn("r", expr(
        "row_number() OVER (PARTITION BY nid ORDER BY jac DESC, oid)"))
      .filter(col("r") === 1)
      .select(col("nid").as("doc_id"), col("oid").as("dup_of"), col("jac"))
    val nCand = cand.groupBy("nid").agg(count(lit(1)).as("n_cand"))
      .select(col("nid").as("doc_id"), col("n_cand"))
    batch.select("doc_id")
      .join(nCand, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("dup_of"), col("jac"))
  }

  /** Exact-substring dedup MATERIALIZED (the removal half of
    * [[dupSpans]] — Lee et al. 2022's ExactSubstr treatment at n-gram
    * granularity): every n-gram occurring ≥ 2 times CORPUS-WIDE keeps
    * only its first occurrence (min (doc_id, pos)); every other
    * occurrence's token span is removed and the survivors are
    * stitched back per doc. Unlike [[dupSpans]]' distinct-doc
    * criterion (a detection statistic), removal counts ALL
    * occurrences — within-doc repeats are duplicated text too.
    *
    * → (doc_id, clean_text, n_kept, n_removed), one row per input doc
    * (fully-scrubbed docs stay, clean_text = ''). Deterministic:
    * keeper choice is min (doc_id, pos); note a keeper span can still
    * lose tokens to ANOTHER n-gram's non-keeper occurrence overlapping
    * it — inherent to greedy span removal, same both engines.
    *
    * Scale: the dup set is one hash-keyed aggregation; only
    * duplicated hashes survive the join back; covered positions are
    * an exact ×n explode of NON-FIRST occurrences only; the stitch is
    * one doc-keyed aggregation — O(tokens) end to end, no doc-pair
    * join anywhere (the property that makes span dedup feasible at
    * 100 TB where pairwise comparison is quadratic).
    */
  def scrubDupSpans(docs: DataFrame, n: Int = 5): DataFrame =
    scrubDupSpans(docs, n, 1)

  /** [[scrubDupSpans]] with Lee et al.'s MINIMUM MATCH LENGTH: only
    * maximal covered RUNS of at least `minLen` tokens are excised
    * (the paper removes duplicated substrings ≥ 50 tokens; an
    * isolated duplicated n-gram — a common phrase — survives).
    * Covered positions from non-first duplicated n-gram occurrences
    * group into consecutive islands per doc (gaps-and-islands on a
    * DOC-KEYED window over hit rows only); islands shorter than
    * `minLen` are dropped, the rest are excised by the shared scrub
    * kernel. `minLen <= n` is exactly [[scrubDupSpans]] (every
    * covered island is ≥ n tokens by construction). Runs separated
    * by < n untouched tokens merge through their overlapping covers —
    * inherent to the n-gram approximation of the suffix-array method,
    * same in both engines.
    */
  def scrubDupSpans(docs: DataFrame, n: Int, minLen: Int): DataFrame = {
    val tk = tokArrays(docs)
    val covered = coveredPositions(tk, n)
    // no distinct(): the scrub kernel's collect_set dedups overlapping
    // spans' positions with map-side combine — one exchange fewer
    // shared narrow removal kernel (array_except surgery on touched
    // docs, straight concat on the untouched majority) — see
    // TextMetrics.scrubByCoveredPositions
    if (minLen <= n) TextMetrics.scrubByCoveredPositions(tk, covered)
    else {
      val isl = coveredIslands(covered, minLen)
        .select(col("doc_id"),
          explode(sequence(col("_ds_s"), col("_ds_e"))).as("pos"))
      TextMetrics.scrubByCoveredPositions(tk, isl)
    }
  }

  /** (doc_id, tk) token arrays, empty array for token-less docs —
    * [[graft.text.TextOps.tokArrayCol]], the ONE canonical definition
    * (review r18: this was a hand-inlined copy of the exact idiom the
    * r14 consolidation exists to prevent).
    */
  private def tokArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokArrayCol(col("text")).as("tk"))

  /** Covered positions per doc: every token position under a
    * NON-FIRST occurrence of a corpus-duplicated n-gram (the
    * min-(doc_id, pos) occurrence is the keeper). One hash-keyed dup
    * aggregation + a hits-only join back (the exchange under both is
    * built once and reused); overlapping covers emit repeats — the
    * consumers dedup (collect_set / distinct). */
  private def coveredPositions(tk: DataFrame, n: Int): DataFrame = {
    val sh = tk
      .select(col("doc_id"),
        posexplode(TextOps.shinglesFromToks(col("tk"), n))
          .as(Seq("i0", "s")))
      .select(col("doc_id"), (col("i0") + 1).as("pos"),
        DetHash.h60(col("s")).as("h"))
    val firsts = sh.groupBy("h")
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("f"))
      .filter(col("c") >= 2)
      .select(col("h"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    sh.join(firsts, Seq("h"))
      .filter(!(col("doc_id") === col("fdoc") && col("pos") === col("fpos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
  }

  /** ONE gaps-and-islands kernel (review r19: the pos − row_number
    * grouping + min/max bounds + ≥ minLen filter existed verbatim in
    * both [[coveredIslands]] and [[dupRunSpans]], drift-prone): hit
    * positions → per-doc consecutive islands as (doc_id, _ds_s,
    * _ds_e), ends extended by `endOffset` (0 for covered-position
    * islands; n−1 for shingle-START islands, so the span includes the
    * final n-gram's width) BEFORE the minLen cut. `dedupHits` adds
    * the distinct() overlapping covers need — position-unique inputs
    * (one shingle start per position) skip that exchange.
    */
  private def islandSpans(hits: DataFrame, endOffset: Int, minLen: Int,
                          dedupHits: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    (if (dedupHits) hits.distinct() else hits)
      .withColumn("_ds_g", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("_ds_g"))
      .agg(min("pos").as("_ds_s"), (max("pos") + endOffset).as("_ds_e"))
      .filter(col("_ds_e") - col("_ds_s") + 1 >= minLen)
      .select(col("doc_id"), col("_ds_s"), col("_ds_e"))
  }

  /** Consecutive islands of covered positions, ≥ minLen long:
    * (doc_id, _ds_s, _ds_e) in the covered stream's INT position
    * type (element_at downstream needs INT). Doc-keyed
    * gaps-and-islands window over hit rows only. */
  private def coveredIslands(covered: DataFrame,
                             minLen: Int): DataFrame =
    islandSpans(covered, endOffset = 0, minLen, dedupHits = true)

  /** EXACTLY what [[scrubDupSpans]]`(docs, n, minLen)` will excise,
    * as spans: the ≥ minLen islands of covered positions (non-keeper
    * duplicated n-gram occurrences, covers merged when closer than
    * n). This is the removal's own statistic — NOT [[dupRunSpans]],
    * which detects duplicated runs EVERYWHERE (keeper occurrences
    * included, islands over consecutive duplicated STARTS): nearby
    * distinct duplicated substrings whose covers touch can merge
    * past minLen here while each is too short for [[dupRunSpans]] to
    * report, and the keeper copy of a block is reported there but
    * never cut here. Use dupRunSpans for "where is duplicated
    * material", this for "what would the scrub remove"
    * (DecontamSpec pins both contracts and their divergence).
    */
  def dupRemovalSpans(docs: DataFrame, n: Int = 5,
                      minLen: Int = 15): DataFrame =
    coveredIslands(coveredPositions(tokArrays(docs), n), minLen)
      .select(col("doc_id"),
        col("_ds_s").cast("bigint").as("start_pos"),
        col("_ds_e").cast("bigint").as("end_pos"),
        (col("_ds_e") - col("_ds_s") + 1).cast("bigint").as("span_len"))

  /** DETECTION of long duplicated runs: maximal per-doc runs of
    * consecutive corpus-duplicated n-gram starts, reported as token
    * spans of length ≥ `minLen`. A copied block of m tokens yields
    * one island of exactly m (its m−n+1 duplicated starts are
    * consecutive); an isolated duplicated n-gram yields n < minLen
    * and is not reported. All occurrences count (keeper copies and
    * within-doc repeats included) — this answers "where is long
    * duplicated material", on BOTH sides of every duplication.
    * It is deliberately NOT the removal's statistic: what
    * [[scrubDupSpans]]`(n, minLen)` excises is [[dupRemovalSpans]]
    * (keeper occurrences exempt; covers of nearby distinct
    * duplicated substrings merge when closer than n, so removal can
    * cut a ≥ minLen island whose individual runs are each too short
    * to appear here). Unlike [[dupSpans]]' distinct-doc statistic,
    * within-doc repeats count.
    *
    * → (doc_id, start_pos, end_pos, span_len), 1-based inclusive
    * token positions. Scale: one hash-keyed dup aggregation, hits-only
    * join back (the exchange under both is built once and reused),
    * doc-keyed gaps-and-islands window over DUPLICATED starts only —
    * O(tokens), no doc-pair join.
    */
  def dupRunSpans(docs: DataFrame, n: Int = 5, minLen: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs
      .select(col("doc_id"),
        posexplode(TextOps.shinglesCol(col("text"), n))
          .as(Seq("i0", "s")))
      .select(col("doc_id"), (col("i0") + 1).as("pos"),
        DetHash.h60(col("s")).as("h"))
    val dupH = sh.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    // shared island kernel; one shingle start per position, so no
    // dedup exchange — ends carry the final n-gram's width
    islandSpans(sh.join(dupH, Seq("h")).select("doc_id", "pos"),
      endOffset = n - 1, minLen = minLen, dedupHits = false)
      .select(col("doc_id"),
        col("_ds_s").cast("bigint").as("start_pos"),
        col("_ds_e").cast("bigint").as("end_pos"),
        (col("_ds_e") - col("_ds_s") + 1).cast("bigint")
          .as("span_len"))
  }

  /** Leakage-aware K-fold split over ANY per-doc group labeling
    * (near-dup cluster, URL host, licence pool — whatever must not
    * straddle an evaluation boundary): every member of a group lands
    * in the same fold because the fold is a seeded hash of the GROUP
    * label, never the doc — so a near-dup of a validation doc can
    * never leak into train. `fold = h60(seed|lbl) mod nFolds`;
    * `split` = "val" for the top `nVal` folds, "train" otherwise.
    * Pure narrow map over the label frame — the no-straddle guarantee
    * costs nothing beyond the labeling itself ([[clusters]] /
    * [[connectedComponents]] upstream). Deterministic across reruns
    * and engines; a new seed is a fresh fold redraw with the same
    * guarantee. Labels must be NON-NULL (cluster labels are doc ids
    * by construction): a NULL label hashes to a NULL fold, which
    * lands in "val" — conservative (never leaks into train) but not
    * a grouping.
    */
  def leakageSplit(labels: DataFrame, nFolds: Int = 10, nVal: Int = 1,
                   seed: Int = 11,
                   lblCol: String = "lbl"): DataFrame = {
    require(nFolds >= 2 && nVal >= 1 && nVal < nFolds,
      s"need 2 <= nFolds and 1 <= nVal < nFolds, got ($nFolds, $nVal)")
    labels
      .withColumn("fold",
        DetHash.h60(col(lblCol).cast("string"), seed) % nFolds)
      .withColumn("split",
        when(col("fold") < nFolds - nVal, "train").otherwise("val"))
  }

  /** Exact-dup survivor filter: keep the min-id doc per content hash.
    * NULL text reads as the EMPTY string (review r14) — the scrub
    * kernels' convention repo-wide — so NULL-text and empty-text docs
    * dedup as one group; the old md5(NULL) = NULL key silently
    * deduped all NULL-text docs against each other (content that was
    * never compared) while keeping them distinct from '' docs.
    */
  def exactKeepers(docs: DataFrame): DataFrame =
    docs.groupBy(md5(coalesce(col("text"), lit(""))).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** 60-bit h60 content fingerprint column (engine-portable). NULL
    * text keys as '' — the [[exactKeepers]] repo-wide convention
    * (review r19): a bare h60(NULL) = NULL key would group every
    * NULL-text doc together (content never compared "dedups" as one
    * group) while splitting them from ''-text docs.
    */
  def fingerprint(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    DetHash.h60(coalesce(text, lit("")))
}
