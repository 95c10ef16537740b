package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column —
  * the similarity-search surface of the pipeline mandate, as a public
  * API (the declared oracle queries px07/px09 carry the same math in
  * DuckDB-replayable exploded form; this API is the array-native
  * production shape).
  *
  * Scale design (100 TB):
  *  - [[cosineTopK]] is the exact baseline: queries broadcast, the
  *    corpus side streams through one codegen'd kernel pass
  *    (`dot_f64`/`norm2_f64`, functions/VecOps.scala) — a
  *    BroadcastNestedLoopJoin whose cost is #corpus × #queries kernel
  *    calls, the right tool only for small query batches.
  *  - [[ivfTopK]] is the scale path: a k-means codebook ([[
  *    kmeansCentroids]], built once, tiny, broadcast), corpus vectors
  *    pre-assigned to their nearest centroid ([[ivfAssign]], one
  *    narrow pass, persisted as a partition column in practice), and
  *    each query scanning only its `nprobe` nearest inverted lists —
  *    the candidate set shrinks by ~kClusters/nprobe versus brute
  *    force while the per-candidate kernel stays identical.
  */
object Ann {

  /** Squared L2 distance between a float-array column and a
    * double-array column (centroid), elementwise in DOUBLE.
    * Higher-order form — only used on (vector × centroid) pairs,
    * never on the candidate hot path.
    */
  private def l2sq(vec: String, cent: String): String =
    s"aggregate(zip_with($vec, $cent, (a, b) ->" +
      s" (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b))," +
      " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  /** Winner-row NULL-distance guard (applied AFTER the round-then-rank
    * filter): a dim-mismatched or NULL-element vector zip_withs into
    * null padding, its distance goes NULL, and ascending NULLS FIRST
    * would SILENTLY hand it rank 1 — i.e. the smallest cid/code. The
    * same NULLS-FIRST mechanism guarantees detection: if ANY pairing
    * of a vector is NULL, its rank-1 row is a NULL-distance row, so
    * guarding only the selected winner (O(rows), not O(rows ×
    * centroids) — a per-pair CASE was measured 6× slower on the 1M-
    * vector ivf_assign) catches every poisoned vector and raises with
    * the id. requireDimMatches stays as the cheap constant-width
    * fast-fail; this closes the per-row disagreement hole.
    *
    * FILTER predicate, not a column rewrite (r13 advice): a projected
    * CASE rides on the output column, and Catalyst column PRUNING
    * drops unreferenced project expressions — a caller selecting only
    * `vid` out of [[ivfAssign]] would silently lose the guard. Filter
    * predicates survive pruning, and CombineFilters keeps the winner
    * filter to the LEFT of the And (short-circuit: the guard CASE
    * still evaluates only on winner rows, the O(rows) cost the §0p
    * A/B priced).
    */
  private def guardWinner(distCol: String, idCol: String,
                          who: String): String =
    s"CASE WHEN $distCol IS NULL THEN CAST(raise_error(concat(" +
      s"'$who: NULL distance for $idCol ', CAST($idCol AS STRING), " +
      s"' — embedding dim mismatch vs centroid, NULL embedding, or " +
      s"NULL element')) AS BOOLEAN) ELSE true END"

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors by cosine similarity (self-pairs excluded when ids
    * collide). Queries are broadcast; the corpus streams.
    *
    * Zero-norm vectors (all-zero embeddings — padding rows, dead docs)
    * have no defined cosine: unguarded, the zero divisor would RAISE
    * under the session's ANSI default (Spark 4) — and even under
    * non-ANSI semantics the NULL cos would pad a short top-k tail
    * with meaningless rows. They are excluded on both sides —
    * a zero-norm corpus vector is never a neighbor, a zero-norm query
    * gets no result rows (same rule in [[ivfTopK]] /
    * [[ivfTopKPartitioned]]). NaN-norm vectors (a NaN/Inf element from
    * an upstream normalize) fall under the SAME rule (review r19):
    * Spark's comparison semantics order NaN ABOVE every value, so an
    * unguarded NaN passed `> 0`, its NaN cosine outranked every real
    * neighbor in the DESC window, and one poisoned vector topped
    * every query's results silently.
    *
    * NULL-cos pairs (a dim-MISMATCHED corpus/query pair zip_withs to
    * null padding and `dot_f64` goes NULL — the other undefined-cosine
    * source) are excluded by the same rule: a `cos IS NOT NULL` filter
    * ahead of the rank window, so they can never pad a short top-k
    * tail either (r13 advice). Exclusion, not a raise: unlike the IVF
    * build path there is no codebook here to define the ONE canonical
    * dim — every pairing is its own contract — and a NULL cosine is
    * "no defined similarity", the exact semantics the zero-norm rule
    * already encodes. [[ivfAssign]]/[[pqEncode]] stay the loud path:
    * there a NULL distance would silently WIN rank 1, here it can only
    * trail the tail.
    *
    * @param corpus  (id, embedding: array&lt;float&gt;)
    * @param queries (id, embedding: array&lt;float&gt;)
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame = {
    val c = withNorm(
      corpus.select(col(idCol).as("vid"), col(embCol).as("ce")), "ce", "cn")
    cosineRank(c.crossJoin(broadcast(queryNorms(queries, idCol, embCol))), k)
  }

  /** The zero/NaN-norm rule of [[cosineTopK]], the one copy: `norm` =
    * the L2 norm of `vec`, rows whose norm is zero or NaN dropped.
    */
  private def withNorm(vecs: DataFrame, vec: String,
                       norm: String): DataFrame =
    vecs.withColumn(norm, expr(s"sqrt(norm2_f64($vec))"))
      .filter(col(norm) > 0 && !isnan(col(norm)))

  /** Query side of every cosine path: (qid, qe, qn). */
  private def queryNorms(queries: DataFrame, idCol: String,
                         embCol: String): DataFrame =
    withNorm(queries.select(col(idCol).as("qid"), col(embCol).as("qe")),
      "qe", "qn")

  /** The one cosine ranking, shared by [[cosineTopK]], [[ivfTopK]] and
    * [[ivfTopKPartitioned]] (they differ only in how they build the
    * candidate pairs): (qid, vid, qe, qn, ce, cn) pairs → top-k
    * (qid, vid, cos, rank). Self-pairs and undefined cosines (NULL or
    * NaN, see [[cosineTopK]]) are dropped; round-then-rank keeps the
    * order stable under FP noise, vid breaks ties.
    */
  private def cosineRank(pairs: DataFrame, k: Int): DataFrame =
    pairs.filter(col("qid") =!= col("vid"))
      .withColumn("cos", expr("dot_f64(qe, ce) / (qn * cn)"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .withColumn("rank", expr(
        "row_number() OVER (PARTITION BY qid ORDER BY round(cos, 9) DESC, vid)"))
      .filter(col("rank") <= k)
      .select("qid", "vid", "cos", "rank")

  /** Lloyd's k-means over the embedding column: deterministic seeding
    * (the first `kClusters` vectors by id), `iters` assign+update
    * rounds. Returns (cid, centroid: array&lt;double&gt;) — tiny, meant
    * to be broadcast. The one-block case of [[pqTrain]]'s trainer.
    *
    * @note like [[pqTrain]], a cluster that loses every member during
    *       a Lloyd iteration drops OUT of the result (fewer than
    *       kClusters rows) rather than resurfacing at a stale
    *       position — the seed guard protects the SEEDING arithmetic,
    *       not the iterated count. Consumers treating the returned
    *       rows as the cluster universe (ivfTopK, the partitioned
    *       layout) stay correct on a shrunken result; train with
    *       kClusters ≪ n to avoid it.
    */
  def kmeansCentroids(corpus: DataFrame, kClusters: Int, iters: Int,
                      idCol: String = "vec_id",
                      embCol: String = "embedding",
                      allowFewer: Boolean = false): DataFrame =
    lloyd(corpus, idCol, embCol, None, kClusters, iters, allowFewer,
      "kmeansCentroids", n =>
        s"kmeansCentroids needs >= $kClusters distinct-id vectors to " +
          s"seed, got $n (allowFewer opts into the every-vector-" +
          s"its-own-cluster shrink)")
      .withColumnRenamed("code", "cid")

  /** The one Lloyd trainer: [[kmeansCentroids]] is its one-block case
    * (`subDim` = None, cid = code), [[pqTrain]] runs it per block
    * (blk = i div subDim). Build-phase op in exploded long form, so the
    * mean update is one keyed aggregation (no elementwise array agg
    * exists, and the build runs once per index, not per query).
    * → ([blk,] code, centroid: array&lt;double&gt;).
    */
  private def lloyd(sample: DataFrame, idCol: String, embCol: String,
                    subDim: Option[Int], k: Int, iters: Int,
                    allowFewer: Boolean, who: String,
                    tooFew: Long => String): DataFrame = {
    val blk = subDim.toSeq.map(_ => "blk")
    val ex0 = sample
      .select(col(idCol).as("vid"), posexplode(col(embCol)).as(Seq("i", "x0")))
      // loud on a NULL ELEMENT (review r19): the exploded form's
      // sum('d') silently SKIPS NULL dims — a vector with one NULL
      // element would get a truncated, underestimated dist2 and a
      // possibly-wrong assignment with no error, while the zip_with
      // paths raise. (A NULL embedding COLUMN still explodes to zero
      // rows and sits out, the nullIntolerant convention.)
      .withColumn("x", when(col("x0").isNotNull, col("x0").cast("double"))
        .otherwise(expr(s"CAST(raise_error(concat('$who: NULL " +
          "element in embedding of vid ', CAST(vid AS STRING))) AS DOUBLE)")))
      .drop("x0")
    val ex = subDim.fold(ex0)(d =>
      ex0.withColumn("blk", expr(s"CAST(i div $d AS BIGINT)")))
    // round-then-rank (repo determinism rule, as in px34): dist2 is a
    // parallel double sum; ranking the rounded value keeps assignments
    // stable across partitionings, the code tiebreak settles exact ties.
    def assign(cent: DataFrame): DataFrame = ex.join(broadcast(cent), blk :+ "i")
      .withColumn("d", expr("(x - c) * (x - c)"))
      .groupBy(("vid" +: blk :+ "code").map(col): _*).agg(sum("d").as("dist2"))
      .withColumn("r", expr("row_number() OVER (PARTITION BY " +
        ("vid" +: blk).mkString(", ") + " ORDER BY round(dist2, 6), code)"))
      .filter(col("r") === 1).select(("vid" +: blk :+ "code").map(col): _*)
    def update(members: DataFrame): DataFrame =
      members.groupBy((blk :+ "code" :+ "i").map(col): _*)
        .agg(expr("sum(x) / count(x)").as("c"))
    // seed = the first k DISTINCT ids by rank (works for any id space,
    // not just dense 0-based ids; distinct first, because dense_rank
    // mints codes from distinct id VALUES — duplicate-id rows would
    // otherwise seed fewer codes than rows counted). Fewer ids than k
    // is an ERROR unless `allowFewer`: an IVF consumer's kClusters
    // math (ivfTopK's nprobe/kClusters recall cut, the partitioned
    // layout's directory count) would be silently wrong. The guard
    // costs one id-column scan (distinct + take-ordered + count) on
    // the strict path. `allowFewer` opts a caller INTO the shrink where
    // it is the declared semantics — semDedup's k is a CEILING (every
    // vector its own cluster when n < k, EdgeCaseSpec) — and skips the
    // count action entirely.
    val seedIds = sample.select(col(idCol).as("vid")).distinct()
      .orderBy("vid").limit(k)
    if (!allowFewer) {
      val nSeeds = seedIds.count()
      require(nSeeds == k, tooFew(nSeeds))
    }
    // seed-init aggregates per (code, i) — review r19: duplicate-ID
    // rows with different embeddings would otherwise put SEVERAL
    // centroid rows under one code, and the first assign round's
    // sum(d) would charge each vector the distance to ALL of them.
    // The mean matches the update step's own shape; for unique ids it
    // is the identity.
    var cent = update(ex.join(broadcast(seedIds.withColumn("code",
      expr("dense_rank() OVER (ORDER BY vid) - 1").cast("long"))), Seq("vid")))
    for (_ <- 1 to iters)
      cent = update(ex.join(assign(cent), "vid" +: blk))
    cent.groupBy((blk :+ "code").map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)")
        .as("centroid"))
  }

  /** The one nearest-centroid rule: each vector's `n` nearest
    * centroids against the broadcast codebook, ranked by squared L2
    * rounded to 6 dp with a cid tiebreak (round-then-rank), every
    * selected row passing [[guardWinner]]. Every assignment and every
    * probe goes through here (review r16: textually-identical copies
    * meant an edit to one — say the rounding precision — would
    * silently diverge the others, breaking the "assignments identical
    * by construction" invariant the specs pin). Keeps the input
    * columns and adds (cid, centroid, d2), so no caller re-joins the
    * corpus to recover a projected-away column.
    */
  private def nearestCentroids(vecs: DataFrame, id: String, vec: String,
                               centroids: DataFrame, n: Int,
                               who: String): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .withColumn("d2", expr(l2sq(vec, "centroid")))
      .withColumn("r", expr(
        s"row_number() OVER (PARTITION BY $id ORDER BY round(d2, 6), cid)"))
      .filter(col("r") <= n)
      .filter(expr(guardWinner("d2", id, who)))

  /** Nearest-centroid WINNER row per corpus vector, the n = 1 case of
    * [[nearestCentroids]] → (vid, ve, cid, centroid, d2).
    */
  private def nearestCentroidWinner(corpus: DataFrame,
                                    centroids: DataFrame,
                                    idCol: String, embCol: String,
                                    who: String): DataFrame =
    nearestCentroids(
      corpus.select(col(idCol).as("vid"), col(embCol).as("ve")),
      "vid", "ve", centroids, 1, who)

  /** Nearest-centroid assignment for every corpus vector: one narrow
    * pass against the broadcast codebook → (vid, cid). At scale this
    * is written once as the IVF partition key.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame =
    nearestCentroidWinner(corpus, centroids, idCol, embCol, "ivfAssign")
      .select("vid", "cid")

  /** The DEPLOYED IVF layout: corpus written to parquet PARTITIONED BY
    * the centroid assignment, so each inverted list is its own
    * directory and a probe query's `cid IN (...)` predicate becomes
    * partition PRUNING — non-probed lists are never opened, the
    * storage-level realization of the IVF candidate cut
    * (PartitionPruningSpec asserts the pruned scan end-to-end).
    * [[nearestCentroidWinner]] keeps the embedding through the window:
    * joining corpus back onto ivfAssign's (vid, cid) output would scan
    * the corpus TWICE and add a corpus-sized shuffle join on vid — at
    * the 100 TB scale this layout exists for, the most expensive
    * operator in the job. Same ranking expression, so assignments are
    * identical by construction (AnnSpec pins layout ≡ ivfAssign).
    */
  def writeIvfPartitioned(corpus: DataFrame, centroids: DataFrame,
                          path: String,
                          idCol: String = "vec_id",
                          embCol: String = "embedding"): Unit =
    nearestCentroidWinner(corpus, centroids, idCol, embCol,
      "writeIvfPartitioned")
      .select("vid", "ve", "cid")
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** IVF search over the partitioned layout. The probed list ids are
    * driver material (|queries| × nprobe, tiny by construction), so
    * they are inlined as a LITERAL IN predicate — the same
    * literal-pushdown trick as the inverted text index
    * (ir/Index.scala:97): a join could not prune partitions at plan
    * time. Identical ranking semantics to [[ivfTopK]] (spec-asserted).
    */
  def ivfTopKPartitioned(spark: org.apache.spark.sql.SparkSession,
                         path: String, centroids: DataFrame,
                         queries: DataFrame, nprobe: Int, k: Int,
                         idCol: String = "vec_id",
                         embCol: String = "embedding"): DataFrame = {
    val probes = cosineProbes(centroids, queries, nprobe, idCol, embCol)
    val c = withNorm(readProbedLists(spark, path, probes)
      .select(col("vid"), col("ve").as("ce"), col("cid")), "ce", "cn")
    cosineRank(c.join(broadcast(probes), Seq("cid")), k)
  }

  /** Each query's `nprobe` nearest lists for the cosine IVF paths —
    * (qid, qe, qn, cid), |queries| × nprobe rows.
    */
  private def cosineProbes(centroids: DataFrame, queries: DataFrame,
                           nprobe: Int, idCol: String,
                           embCol: String): DataFrame =
    nearestCentroids(queryNorms(queries, idCol, embCol), "qid", "qe",
      centroids, nprobe, "ivf probe")
      .select("qid", "qe", "qn", "cid")

  /** The probed lists of a cid-partitioned layout: the probed cids are
    * driver material (|q|·nprobe rows, collected from the PROBES
    * frame, never from anything built on it, so the action re-runs
    * only the cheap probe ranking) and go in as a LITERAL IN
    * predicate, which prunes non-probed list directories at plan time.
    */
  private def readProbedLists(spark: org.apache.spark.sql.SparkSession,
                              path: String, probes: DataFrame): DataFrame = {
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq
    spark.read.parquet(path).filter(col("cid").isin(probedCids: _*))
  }

  /** Johnson–Lindenstrauss random projection with a DETERMINISTIC
    * ±1 matrix (Achlioptas 2003: Rademacher entries satisfy the JL
    * guarantee): out_j = Σ_i e_i · s(i, j) / √dOut, with the sign
    * drawn from the engine-portable md5 hash — s(i, j) = +1 iff
    * h60("seed|i|j") is even. Same seed ⇒ same matrix on every run,
    * engine, and machine, so projections of separately-processed
    * corpus slices land in the SAME reduced space (the property
    * random matrices from an RNG lose the moment two jobs seed
    * differently).
    *
    * The standard pre-reduction before clustering / ANN at 100 TB:
    * distances are preserved within (1 ± ε) for dOut = O(log n / ε²),
    * and every downstream op (k-means, SemDeDup, IVF) gets a
    * dIn/dOut-fold cheaper kernel.
    *
    * Scale: the matrix is a dOut × dIn literal baked into the plan
    * (no broadcast, no join); the projection is a pure narrow map —
    * one sequential fold per output dim, `dIn` multiply-adds each.
    * → (idCol, proj: array&lt;double&gt;, 6-dp rounded — the
    * cross-engine float contract).
    */
  def randomProject(emb: DataFrame, dIn: Int, dOut: Int, seed: Int = 5,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    val m: Seq[Seq[Double]] = (0 until dOut).map { j =>
      (0 until dIn).map { i =>
        if (graft.functions.DetHash.h60Local(s"$seed|$i|$j") % 2 == 0) 1.0
        else -1.0
      }
    }
    val mLit = typedLit(m)
    val scale = math.sqrt(dOut.toDouble)
    // dim guard PER ROW (the PQ fail-fast convention, but rows can
    // disagree with each other): a mismatched vector would zip_with
    // into null padding and poison the fold to NULL silently — it
    // raises instead. A NULL ELEMENT inside a correctly-sized vector
    // raises too (review r19): it would otherwise NULL every per-dim
    // fold and emit a NON-NULL proj of dOut NULL elements — exactly
    // the shape the comment below says downstream isNull checks miss.
    // NULL embeddings stay NULL rows (nullIntolerant convention),
    // they never trip either guard.
    val guarded = when(col(embCol).isNull, col(embCol))
      .when(size(col(embCol)) =!= dIn, expr(
        s"""CAST(raise_error(concat('randomProject: vector dim ',
           |  CAST(size($embCol) AS STRING), ' != dIn $dIn'))
           |  AS ARRAY<FLOAT>)""".stripMargin))
      .when(expr(s"exists($embCol, x -> x IS NULL)"), expr(
        s"CAST(raise_error('randomProject: NULL element in a " +
          s"$dIn-dim vector') AS ARRAY<FLOAT>)"))
      .otherwise(col(embCol))
    // a NULL embedding yields a genuinely NULL proj COLUMN VALUE, not
    // an array of dOut NULL elements (which the per-dim folds would
    // otherwise produce — downstream proj.isNull checks would miss
    // those rows)
    emb.select(col(idCol),
      when(col(embCol).isNull, lit(null).cast("array<double>"))
        .otherwise(transform(sequence(lit(0), lit(dOut - 1)), j =>
          round(
            aggregate(
              zip_with(guarded, element_at(mLit, j + 1),
                (a, b) => a.cast("double") * b),
              lit(0.0), (s, v) => s + v) / scale, 6))).as("proj"))
  }

  /** Fail fast on a corpus/codebook dimension mismatch: `slice` past
    * the vector's end pads with nulls, d2 goes NULL for the overflow
    * blocks, and round-then-rank would then pick an arbitrary code
    * SILENTLY (round-9 advice). Two one-row/tiny-agg driver actions —
    * bounded at any corpus size (the codebook is broadcast-small by
    * construction).
    */
  private def requireDimMatches(df: DataFrame, embCol: String,
                                codebook: DataFrame, who: String): Unit = {
    val cb = codebook
      .agg(max(col("blk")).as("mb"), max(size(col("centroid"))).as("sd"))
      .head()
    // loud-with-context guards (review r19): an empty codebook makes
    // both max() aggregates NULL and an empty/NULL-embedding probe
    // row used to die in a bare NPE/NoSuchElement with no mention of
    // the actual problem — the file's loud-error convention applies
    // to the probes too.
    require(!cb.isNullAt(0) && !cb.isNullAt(1),
      s"$who: EMPTY codebook — nothing to encode against")
    val expected = (cb.getLong(0) + 1L) * cb.getInt(1)
    val probe = df.select(size(col(embCol)).as("sz")).limit(1).collect()
    require(probe.nonEmpty, s"$who: empty input frame — no vectors")
    require(!probe.head.isNullAt(0),
      s"$who: first row's $embCol is NULL — cannot infer the vector dim" +
        " (filter NULL embeddings out before encoding)")
    val d = probe.head.getInt(0)
    require(d.toLong == expected,
      s"$who: vector dim $d != codebook blocks*subDim $expected")
  }

  /** Squared L2 between one BLOCK of a float-array column and a
    * sub-centroid double-array column: the block is `slice`d out of
    * the full vector (1-based, length = the sub-centroid's own size),
    * so callers never hand-count sub-dimensions.
    */
  private def l2sqBlock(vec: String, cent: String): String =
    s"aggregate(zip_with(slice($vec, CAST(blk * size($cent) + 1 AS INT)," +
      s" size($cent)), $cent, (a, b) ->" +
      s" (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b))," +
      " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  /** Display-only error-tag column (projected name `vid`) for the
    * argmin kernel, dispatched on the SOURCE id column's type (r18
    * advice + review): an integral id rides as a primitive long —
    * zero allocation on the encode hot path, the production case —
    * and any other type casts to string (a no-op cast for string
    * ids), so ANY id type keeps working where the original long-only
    * slot made a non-numeric id cast to NULL and fail every row.
    */
  private def idTag(src: DataFrame, srcCol: String): Column = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    src.schema(srcCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col("vid").cast("long")
      case _ => col("vid").cast("string")
    }
  }

  /** Codebook regrouped for the argmin encode: one row per block,
    * centroids + their code ids as parallel code-ASC-sorted arrays —
    * `blocks` rows total, broadcast-tiny at any kCodes. Parallel
    * arrays (not structs) so the native kernel reads primitives.
    */
  private def codebookByBlock(codebook: DataFrame): DataFrame =
    codebook.groupBy("blk")
      .agg(
        expr("transform(array_sort(collect_list(struct(code, centroid)))," +
          " s -> s.centroid)").as("cents"),
        // widened to BIGINT (review r17): the kernel reads getLong;
        // an int-code codebook — legal against the old window shape —
        // must not fail its type check
        expr("transform(array_sort(collect_list(struct(code, centroid)))," +
          " s -> CAST(s.code AS BIGINT))").as("codes"))

  /** Product-quantization codebook: per-block k-means (Jégou et al.
    * 2011, IEEE TPAMI — "Product quantization for nearest neighbor
    * search"). The vector is split into `blocks` contiguous sub-vectors
    * and each block gets its own `kCodes`-centroid codebook, trained by
    * Lloyd iterations with the repo's deterministic seeding (first
    * `kCodes` vectors by id rank) and round-then-rank assignment.
    *
    * Train on a SAMPLE: the codebook is a model, not an index — a few
    * thousand training vectors fix ~blocks·kCodes·subDim doubles, and
    * the result is broadcast everywhere it is used.
    *
    * @return (blk, code, centroid: array&lt;double&gt;) — up to
    *         blocks·kCodes rows, broadcastable at any corpus size.
    * @note a code that loses every member during a Lloyd iteration
    *       drops OUT of the codebook (fewer rows than blocks·kCodes)
    *       rather than resurfacing at a stale position; encode/search
    *       treat the codebook rows as the code universe, so a shrunken
    *       book stays correct — train on a sample ≫ kCodes to avoid
    *       it. Fewer than kCodes sample vectors is an error.
    */
  def pqTrain(sample: DataFrame, blocks: Int, kCodes: Int, iters: Int,
              idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame = {
    // dim from one row (constant per table); blocks must divide it
    val dim = sample.select(size(col(embCol))).head().getInt(0)
    require(dim % blocks == 0, s"dim $dim not divisible into $blocks blocks")
    lloyd(sample, idCol, embCol, Some(dim / blocks), kCodes, iters,
      allowFewer = false, "pqTrain", n =>
        s"pqTrain needs >= $kCodes distinct-id sample vectors to seed, " +
          s"got $n")
  }

  /** Encode every corpus vector as its per-block nearest sub-centroid:
    * (vid, blk, code) — `blocks` skinny rows per vector, the CODES-ONLY
    * storage layout that replaces the raw floats on the ADC scan path
    * (~dim·4 bytes → blocks·1 bytes per vector at kCodes ≤ 256). One
    * narrow pass against the broadcast per-block codebook via the
    * native [[graft.functions.PqArgmin]] kernel — no kCodes× row
    * blowup, no window shuffle, one codegen'd call per (vid, blk)
    * (r17; semantics identical to the historical window shape,
    * AnnSpec/PqArgminSpec-pinned — the 1M-vector encode measured
    * 109 s → 1.95 s at kCodes=32 and 894 s → 4.6 s at the standard
    * kCodes=256, identical recall rows, probes/ann_recall_r17.log).
    */
  def pqEncode(corpus: DataFrame, codebook: DataFrame,
               idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame = {
    requireDimMatches(corpus, embCol, codebook, "pqEncode")
    corpus.select(col(idCol).as("vid"), col(embCol).as("ve"))
      .crossJoin(broadcast(codebookByBlock(codebook)))
      .select(col("vid"), col("blk"),
        graft.functions.PqArgmin.argmin(col("ve"),
          expr("CAST(blk * size(element_at(cents, 1)) AS INT)"),
          col("cents"), col("codes"), idTag(corpus, idCol),
          "pqEncode").as("code"))
  }

  /** PQ ADC top-k (asymmetric distance computation — the query path of
    * billion-vector IVF+PQ indexes): per query, a lookup table of
    * squared distances from the query's sub-vectors to every
    * sub-centroid (|queries|·blocks·kCodes rows — tiny, broadcast by
    * construction); the corpus is then scanned as CODES ONLY, each
    * vector's approximate distance being `blocks` table lookups and a
    * sum. Ranking ascends by rounded ADC distance, vid tiebreak.
    *
    * @param codes [[pqEncode]] output (vid, blk, code)
    */
  def pqAdcTopK(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
                k: Int, idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    requireDimMatches(queries, embCol, codebook, "pqAdcTopK")
    adcRank(codes, queries.select(col(idCol).as("qid"), col(embCol).as("ve")),
      "ve", Nil, codebook, k, "pqAdcTopK")
  }

  /** The one ADC ranker, behind [[pqAdcTopK]] (no list key) and the
    * IVFADC paths (`listKey` = cid): the lookup table from each query
    * row's `vec` sub-vectors to every sub-centroid — (qid, listKey,
    * blk, code, pd), tiny and broadcast — joined to the codes on
    * (listKey, blk, code), so a code only matches its own query row's
    * list. Ranking ascends by the rounded ADC distance, vid tiebreak.
    */
  private def adcRank(codes: DataFrame, q: DataFrame, vec: String,
                      listKey: Seq[String], codebook: DataFrame, k: Int,
                      who: String): DataFrame = {
    val keys = listKey ++ Seq("blk", "code")
    val lut = q.crossJoin(broadcast(codebook))
      .withColumn("pd", expr(l2sqBlock(vec, "centroid")))
      // a NULL pd would be silently SKIPPED by the sum(pd) below —
      // an underestimated ADC distance, not even a NULL one; the LUT
      // is tiny (|q|*blocks*kCodes), so the per-row guard is free
      .filter(expr(guardWinner("pd", "qid", who)))
      .select(("qid" +: keys :+ "pd").map(col): _*)
    codes.join(broadcast(lut), keys)
      .filter(col("qid") =!= col("vid"))
      .groupBy("qid", "vid")
      .agg(expr("round(sum(pd), 6)").as("adc_dist2"))
      .withColumn("rank", expr(
        "row_number() OVER (PARTITION BY qid ORDER BY adc_dist2, vid)"))
      .filter(col("rank") <= k)
      .select("qid", "vid", "adc_dist2", "rank")
  }

  /** ADC refine (Jégou et al. 2011 §V, "IVFADC+R"): re-rank
    * [[pqAdcTopK]]'s top-R candidates by EXACT squared L2 over the R
    * fetched raw vectors. ADC distances are quantized — when a cell
    * holds near-identical vectors the ADC ordering inside it is
    * arbitrary (the §3f recall collapse on the synthetic corpus:
    * exact-id recall ~0.03 while cloud recall is 1.000) — and the
    * standard production fix is this re-rank: the shortlist is already
    * right as a SET, so k-bounded exact math restores the ordering.
    *
    * Scale shape: a k-bounded JOIN, never a corpus scan — the |q|·R
    * candidate ids broadcast against the corpus (only shortlist rows
    * survive the fetch), the queries broadcast against the fetched
    * rows, and the exact kernel runs |q|·R times total. Winner-guard
    * filter (§0p form): a dim-mismatched fetched pair zip_withs to a
    * NULL d2, which ascending NULLS FIRST would rank 1 — any NULL in
    * the selected top-k raises with the qid instead.
    *
    * @param adcTopR [[pqAdcTopK]] output (qid, vid, …), R ≥ k rows
    *                per query
    * @return (qid, vid, exact_d2, rank) — top-k by exact distance
    */
  def adcRefine(adcTopR: DataFrame, corpus: DataFrame, queries: DataFrame,
                k: Int, idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    val cand = adcTopR.select("qid", "vid")
    val fetched = corpus.select(col(idCol).as("vid"), col(embCol).as("ce"))
      .join(broadcast(cand), Seq("vid"))
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qe"))
    fetched.join(broadcast(q), Seq("qid"))
      .withColumn("d2", expr(
        "aggregate(zip_with(ce, qe, (a, b) -> (CAST(a AS DOUBLE) - " +
          "CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)))," +
          " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
      .withColumn("exact_d2", expr("round(d2, 6)"))
      .withColumn("rank", expr(
        "row_number() OVER (PARTITION BY qid ORDER BY exact_d2, vid)"))
      .filter(col("rank") <= k)
      .filter(expr(guardWinner("d2", "qid", "adcRefine")))
      .select("qid", "vid", "exact_d2", "rank")
  }

  /** IVF residuals (the encode-side half of IVFADC, Jégou et al. 2011
    * §IV): each vector's nearest-centroid assignment PLUS the residual
    * x − c_cid, in one narrow pass (the centroid is still attached at
    * the winner row, so no second corpus scan or re-join). PQ trained
    * on residuals spends its code budget on the WITHIN-cell variation —
    * the variance left after the coarse quantizer — instead of
    * re-describing cell positions the cid already encodes; on
    * tight-cluster corpora (the adversarial replica-cloud regime of
    * probes/ann_recall_r17.log) that is the difference between ADC resolving
    * intra-cell structure and ADC tying on it.
    *
    * @return (vid, cid, res: array&lt;double&gt;)
    */
  def ivfResiduals(corpus: DataFrame, centroids: DataFrame,
                   idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame =
    nearestCentroidWinner(corpus, centroids, idCol, embCol, "ivfResiduals")
      .withColumn("res",
        expr("zip_with(ve, centroid, (a, b) -> CAST(a AS DOUBLE) - b)"))
      .select("vid", "cid", "res")

  /** Encode IVF residuals against a residual-trained PQ codebook
    * ([[pqTrain]] over [[ivfResiduals]] output with `embCol = "res"`),
    * keeping the list id on every code row: (vid, cid, blk, code) —
    * the storage layout of a real IVFADC index, where the codes live
    * INSIDE their inverted list (at scale: parquet partitioned by cid,
    * exactly [[writeIvfPartitioned]]'s layout with codes instead of
    * raw floats). Same ranking/guard semantics as [[pqEncode]].
    */
  def ivfPqEncode(residuals: DataFrame, codebook: DataFrame): DataFrame = {
    requireDimMatches(residuals, "res", codebook, "ivfPqEncode")
    residuals.crossJoin(broadcast(codebookByBlock(codebook)))
      .select(col("vid"), col("cid"), col("blk"),
        graft.functions.PqArgmin.argmin(col("res"),
          expr("CAST(blk * size(element_at(cents, 1)) AS INT)"),
          col("cents"), col("codes"), idTag(residuals, "vid"),
          "ivfPqEncode").as("code"))
  }

  /** IVFADC search (Jégou et al. 2011 §IV): per query, probe the
    * `nprobe` nearest lists; per probed list, build the ADC lookup
    * table from the query's OWN residual against that list's centroid
    * (qres = q − c_cid — the LUT is per (query, list), which is why
    * the residual trick costs nothing extra at search time beyond the
    * nprobe factor on the LUT size); then scan codes joined on
    * (cid, blk, code), so non-probed lists never match. Approximates
    * ‖q − x‖² = ‖(q − c) − r‖² ≈ Σ_blk ‖qres_blk − r̂_blk‖² with r̂
    * the quantized residual.
    *
    * Scale: LUT is |q|·nprobe·blocks·kCodes rows — broadcast-small by
    * construction; the scan side is CODES ONLY (blocks·1 byte per
    * vector), and over the cid-partitioned layout the literal probed-
    * cid set prunes at plan time exactly as [[ivfTopKPartitioned]].
    * Compose with [[adcRefine]] for the IVFADC+R production path.
    *
    * @param codes [[ivfPqEncode]] output (vid, cid, blk, code)
    * @param rotation optional OPQ rotation ([[opqTrainRotation]]) —
    *                 MUST be the same R the codes side was built with
    *                 (codebook trained on, and codes encoded from,
    *                 `rotateVec`-rotated residuals); applied here to
    *                 the query residual before the LUT so both sides
    *                 live in the rotated space. Empty = plain IVFADC,
    *                 plan-identical to the pre-OPQ shape.
    */
  def ivfAdcTopK(codes: DataFrame, centroids: DataFrame,
                 codebook: DataFrame, queries: DataFrame,
                 nprobe: Int, k: Int,
                 idCol: String = "vec_id",
                 embCol: String = "embedding",
                 rotation: Seq[Seq[Double]] = Nil): DataFrame = {
    requireDimMatches(queries, embCol, codebook, "ivfAdcTopK")
    adcRank(codes,
      ivfAdcProbes(centroids, queries, nprobe, idCol, embCol, rotation),
      "qres", Seq("cid"), codebook, k, "ivfAdcTopK")
  }

  /** The per-query probed lists with their query residuals —
    * (qid, cid, qres); |q|·nprobe rows. With a non-empty `rotation`
    * the residual is rotated into OPQ space (see [[ivfAdcTopK]]).
    */
  private def ivfAdcProbes(centroids: DataFrame, queries: DataFrame,
                           nprobe: Int, idCol: String,
                           embCol: String,
                           rotation: Seq[Seq[Double]] = Nil): DataFrame = {
    val probes = nearestCentroids(
        queries.select(col(idCol).as("qid"), col(embCol).as("qe")),
        "qid", "qe", centroids, nprobe, "ivfAdcTopK probe")
      .withColumn("qres",
        expr("zip_with(qe, centroid, (a, b) -> CAST(a AS DOUBLE) - b)"))
    (if (rotation.isEmpty) probes
     else rotateVec(probes, rotation, "qres", "qres"))
      .select("qid", "cid", "qres")
  }

  /** The DEPLOYED IVFADC layout: residual codes written to parquet
    * PARTITIONED BY their list id — [[writeIvfPartitioned]]'s layout
    * with blocks·1-byte codes per vector instead of dim·4-byte floats
    * (the ~32× storage cut that makes billion-vector lists scannable),
    * each inverted list its own directory.
    */
  def writeIvfPqPartitioned(residuals: DataFrame, codebook: DataFrame,
                            path: String): Unit =
    ivfPqEncode(residuals, codebook)
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** IVFADC search over the partitioned codes layout: the probed list
    * ids are driver material (|q|·nprobe, tiny by construction) and
    * are inlined as a LITERAL IN predicate, so non-probed lists are
    * PRUNED at plan time and never opened — the same literal-pushdown
    * trick as [[ivfTopKPartitioned]] and the inverted text index,
    * here composed with the codes-only scan. Identical ranking to
    * [[ivfAdcTopK]] over the same codes (spec-asserted).
    */
  def ivfAdcTopKPartitioned(spark: org.apache.spark.sql.SparkSession,
                            path: String, centroids: DataFrame,
                            codebook: DataFrame, queries: DataFrame,
                            nprobe: Int, k: Int,
                            idCol: String = "vec_id",
                            embCol: String = "embedding",
                            rotation: Seq[Seq[Double]] = Nil): DataFrame = {
    requireDimMatches(queries, embCol, codebook, "ivfAdcTopKPartitioned")
    val probes =
      ivfAdcProbes(centroids, queries, nprobe, idCol, embCol, rotation)
    adcRank(readProbedLists(spark, path, probes), probes, "qres",
      Seq("cid"), codebook, k, "ivfAdcTopK")
  }

  /** OPQ training result: the learned orthogonal rotation (row-major,
    * d×d) plus the final per-element quantization MSE on the training
    * sample — the number OPQ minimizes, returned so callers (and the
    * spec) can assert the rotation actually reduced it vs identity.
    */
  final case class OpqModel(rotation: Seq[Seq[Double]], mse: Double)

  /** Non-parametric OPQ (Ge et al. 2014, "Optimized Product
    * Quantization", IEEE TPAMI §IV-B): learn an orthogonal rotation R
    * minimizing the PQ reconstruction error Σ‖R·x − q(R·x)‖², by
    * alternating (1) per-block Lloyd k-means on the rotated sample and
    * (2) the orthogonal-Procrustes solve R = U·Vᵀ from
    * svd(Ŷᵀ·X) — PQ's independent-block assumption wastes code budget
    * on coordinate systems where variance is correlated ACROSS blocks,
    * and the rotation re-axes the space so each block carries
    * independent variance.
    *
    * DRIVER-side by design, like every codebook build here: the input
    * is a bounded training sample (the codebook-class contract — a
    * model, not an index; `maxSample` enforces the bound loudly), and
    * the d×d Procrustes/SVD is pure small-matrix math (Breeze/LAPACK,
    * on the Spark classpath). The learned R is then a broadcast-small
    * LITERAL applied corpus-side by [[rotateVec]] — one narrow
    * codegen'd pass, nothing driver-sized ever touches the corpus.
    *
    * Determinism: seeds are the first kCodes sample rows in id order
    * (pqTrain's rule), Lloyd ties break to the lower code, iteration
    * order is fixed, and LAPACK SVD is deterministic on identical
    * input — two runs on the same sample return identical R.
    *
    * @param opqIters rotation/codebook alternations; 0 returns the
    *                 identity (useful as the A/B baseline: the MSE in
    *                 the result is then plain PQ's)
    */
  def opqTrainRotation(sample: DataFrame, blocks: Int, kCodes: Int,
                       lloydIters: Int = 2, opqIters: Int = 8,
                       maxSample: Int = 65536,
                       idCol: String = "vec_id",
                       embCol: String = "embedding"): OpqModel = {
    import breeze.linalg.{svd, DenseMatrix}
    val rows = sample
      // total order (r18 advice fix): orderBy(id) alone is not total
      // under duplicate ids — which duplicate lands in the collected
      // sample (and hence the k-means seeds and the learned R) became
      // partition-dependent; the embedding hash breaks ties
      // deterministically, and rows identical in BOTH id and embedding
      // are interchangeable. Ordering is on the id column's NATIVE
      // type (review r18: a cast would reorder numeric ids — e.g.
      // lexically, "10" < "2" — silently de-aligning the seeds from
      // pqTrain's orderBy(id) rule on the same sample); non-numeric
      // ids order by their own type's comparator, same as pqTrain.
      .orderBy(col(idCol), xxhash64(col(embCol)))
      // the id orders the sample but is never read back — projecting
      // it away saves collecting maxSample unused strings (review r19)
      .select(expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("e"))
      .limit(maxSample + 1).collect()
    require(rows.length <= maxSample,
      s"opqTrainRotation: training sample exceeds maxSample=$maxSample " +
        "— pass a bounded sample (the codebook contract), not a corpus")
    val e = rows.map(_.getSeq[Double](0).toArray)
    val n = e.length
    require(n > 0, "opqTrainRotation: empty training sample")
    val d = e.head.length
    require(e.forall(_.length == d),
      s"opqTrainRotation: ragged sample — every vector must be $d-dim")
    require(d % blocks == 0, s"dim $d not divisible into $blocks blocks")
    require(n >= kCodes,
      s"opqTrainRotation needs >= $kCodes sample vectors, got $n")
    val sub = d / blocks
    val x = DenseMatrix.tabulate(n, d)((i, j) => e(i)(j))
    // Init matters: from the identity, the Procrustes step is a FIXED
    // POINT whenever ŶᵀX is symmetric PSD (ŷ ≈ x ⇒ ŶᵀX ≈ XᵀX ⇒
    // U = V ⇒ R = I) — NP-OPQ alone never leaves an axis-aligned
    // local optimum. Ge et al. §III's parametric init fixes it:
    // rotate onto the PCA axes, then permute eigen-directions across
    // blocks so each block carries a BALANCED share of the variance
    // (greedy eigenvalue allocation, balancing Σlog λ per block —
    // the independence+balance assumption under which the parametric
    // solution is optimal). opqIters = 0 skips the init too and
    // returns the identity: the plain-PQ baseline, same MSE metric.
    var rot =
      if (opqIters == 0) DenseMatrix.eye[Double](d)
      else {
        // covariance via ONE gemm on the centered matrix (review r17:
        // the per-cell scalar loops were O(d²·n) single-threaded —
        // minutes at d=768, n=64k — next to the LAPACK `*` the
        // Procrustes step below already uses)
        val mean = Array.tabulate(d) { j =>
          var s = 0.0; var i = 0
          while (i < n) { s += x(i, j); i += 1 }
          s / n
        }
        val xc = DenseMatrix.tabulate(n, d)((i, j) => x(i, j) - mean(j))
        val cov = (xc.t * xc) /:/ n.toDouble
        val es = breeze.linalg.eigSym(cov) // eigenvalues ascending
        val order = (0 until d).sortBy(i => -es.eigenvalues(i))
        // greedy allocation: next-largest eigenvalue goes to the
        // LEAST-FILLED block, min accumulated log-variance as the
        // tiebreak within that set (review r17: an unconstrained
        // min-logSum pick is SCALE-dependent — with every λ < 1, the
        // normal case for unit-norm embeddings, log-terms are negative
        // and the fullest block keeps winning, i.e. consecutive-chunk
        // allocation, the opposite of balance. Least-filled-first
        // interleaves one eigenvalue per block per round, and the
        // within-round logSum comparison is scale-invariant because
        // every block then carries the SAME count of log λ terms)
        val logSum = Array.fill(blocks)(0.0)
        val fill = Array.fill(blocks)(0)
        val slots = Array.ofDim[Int](blocks, sub)
        for (ei <- order) {
          val open = (0 until blocks).filter(fill(_) < sub)
          val least = open.map(fill).min
          val b = open.filter(fill(_) == least).minBy(b => (logSum(b), b))
          slots(b)(fill(b)) = ei
          fill(b) += 1
          logSum(b) += math.log(math.max(es.eigenvalues(ei), 1e-12))
        }
        // row r of R = the eigenvector allocated to output slot r
        // (eigSym returns eigenvectors as COLUMNS)
        DenseMatrix.tabulate(d, d) { (r, c) =>
          es.eigenvectors(c, slots(r / sub)(r % sub))
        }
      }
    var mse = Double.NaN
    // opqIters + 1 passes: the last pass only quantizes (no Procrustes
    // update), so the returned MSE is measured AT the returned R
    for (it <- 0 to opqIters) {
      val y = x * rot.t
      val yhat = DenseMatrix.zeros[Double](n, d)
      var err = 0.0
      for (b <- 0 until blocks) {
        val off = b * sub
        // seeds: first kCodes rows (id order — rows are sorted)
        val cent = Array.tabulate(kCodes, sub)((c, j) => y(c, off + j))
        val assign = new Array[Int](n)
        def assignAll(): Unit = {
          var i = 0
          while (i < n) {
            var best = 0; var bd = Double.MaxValue
            var c = 0
            while (c < kCodes) {
              var s2 = 0.0; var j = 0
              while (j < sub) {
                val dv = y(i, off + j) - cent(c)(j); s2 += dv * dv; j += 1
              }
              if (s2 < bd) { bd = s2; best = c } // strict: tie → lower code
              c += 1
            }
            assign(i) = best; i += 1
          }
        }
        for (_ <- 1 to lloydIters) {
          assignAll()
          val sums = Array.ofDim[Double](kCodes, sub)
          val cnt = new Array[Int](kCodes)
          for (i <- 0 until n) {
            cnt(assign(i)) += 1
            var j = 0
            while (j < sub) { sums(assign(i))(j) += y(i, off + j); j += 1 }
          }
          for (c <- 0 until kCodes if cnt(c) > 0; j <- 0 until sub)
            cent(c)(j) = sums(c)(j) / cnt(c) // empty code keeps its seat
        }
        assignAll()
        for (i <- 0 until n; j <- 0 until sub) {
          yhat(i, off + j) = cent(assign(i))(j)
          val dv = y(i, off + j) - yhat(i, off + j); err += dv * dv
        }
      }
      mse = err / (n.toLong * d)
      if (it < opqIters) {
        // min_R ‖R·Xᵀ − Ŷᵀ‖_F over orthogonal R → R = U·Vᵀ,
        // svd(Ŷᵀ·X) = U·S·Vᵀ (orthogonal Procrustes)
        val s = svd(yhat.t * x)
        rot = s.U * s.Vt
      }
    }
    OpqModel(
      Seq.tabulate(d, d)((i, j) => rot(i, j)).map(_.toSeq), mse)
  }

  /** Apply a (learned) rotation corpus-side: `out[i] = Σ_j R[i][j] ·
    * in[j]`, the d×d matrix inlined as a broadcast-small literal and
    * the multiply running as ONE narrow codegen'd kernel call per row
    * ([[graft.functions.MatVec]] — the HOF transform/aggregate form
    * is interpreted per element, measured 14.2 s/1M vectors vs the
    * kernel's 3.26 s incl. the checkpoint write; see the kernel's scaladoc). No UDF, no
    * shuffle, nothing driver-sized near the corpus. Output is
    * array&lt;double&gt; (rotation runs in double whatever the input
    * element type); a NULL input vector yields a genuinely NULL
    * output, a dim mismatch raises loudly.
    */
  def rotateVec(df: DataFrame, rotation: Seq[Seq[Double]],
                inCol: String, outCol: String): DataFrame = {
    val d = rotation.length
    require(d > 0 && rotation.forall(_.length == d),
      s"rotateVec: rotation must be square d×d, got " +
        s"${rotation.map(_.length).distinct.mkString(",")} row widths")
    val r = typedLit(rotation.map(_.toIndexedSeq).toIndexedSeq)
    df.withColumn(outCol, graft.functions.MatVec.matVec(r, col(inCol)))
  }

  /** IVF search: each query probes its `nprobe` nearest centroids and
    * ranks only the corpus vectors assigned to those lists. With
    * `nprobe == kClusters` this is exactly [[cosineTopK]]; smaller
    * `nprobe` trades recall for a ~kClusters/nprobe candidate cut.
    *
    * @param assignment precomputed [[ivfAssign]] output (vid, cid)
    */
  def ivfTopK(corpus: DataFrame, centroids: DataFrame,
              assignment: DataFrame, queries: DataFrame,
              nprobe: Int, k: Int,
              idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame = {
    val probes = cosineProbes(centroids, queries, nprobe, idCol, embCol)
    val c = withNorm(
      corpus.select(col(idCol).as("vid"), col(embCol).as("ce")), "ce", "cn")
      .join(assignment, Seq("vid"))
    cosineRank(c.join(broadcast(probes), Seq("cid")), k)
  }
}
