package graft

import graft.pipeline.Ann
import org.apache.spark.sql.functions._

/** ANN public API: exact baseline consistency, IVF exactness when
  * probing every list, and recall when probing fewer.
  */
class AnnSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sfTiny, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 10)

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("qid", "vid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("cosineTopK matches the declared px07 exploded-form math") {
    val api = Ann.cosineTopK(emb, queries, k = 10)
    // px07's oracle-checked form: exploded dot products, rounded cosine
    val brute = {
      val e = emb.select(col("vec_id").as("vid"),
        posexplode(col("embedding")).as(Seq("i", "x0")))
        .withColumn("x", col("x0").cast("double")).drop("x0")
      val nrm = e.groupBy("vid").agg(sum(expr("x * x")).as("nrm"))
      val q = e.filter(col("vid") < 10)
        .select(col("vid").as("qid"), col("i"), col("x").as("qx"))
      q.join(e, Seq("i"))
        .filter(col("qid") =!= col("vid"))
        .groupBy("qid", "vid").agg(sum(expr("qx * x")).as("dot"))
        .join(nrm.select(col("vid").as("qid"), col("nrm").as("na")), Seq("qid"))
        .join(nrm.select(col("vid"), col("nrm").as("nb")), Seq("vid"))
        .withColumn("cos", expr("dot / (sqrt(na) * sqrt(nb))"))
        .withColumn("rank", expr(
          "row_number() OVER (PARTITION BY qid ORDER BY round(cos, 9) DESC, vid)"))
        .filter(col("rank") <= 10)
    }
    assert(topkSet(api) === topkSet(brute))
  }

  test("ivfTopK with nprobe = kClusters is exact") {
    val cent = Ann.kmeansCentroids(emb, kClusters = 4, iters = 2)
    assert(cent.count() === 4)
    val assign = Ann.ivfAssign(emb, cent)
    assert(assign.count() === emb.count())
    val ivf = Ann.ivfTopK(emb, cent, assign, queries, nprobe = 4, k = 10)
    val exact = Ann.cosineTopK(emb, queries, k = 10)
    assert(topkSet(ivf) === topkSet(exact))
  }

  test("PQ train/encode/ADC: codes-only search keeps useful recall@10") {
    // unit-normalize so the ADC's L2 geometry ranks like the cosine
    // baseline (same trick as the 1M-vector recall runs, BENCH_NOTES §3f)
    val norm = emb.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(CAST(x AS DOUBLE)" +
        " / sqrt(norm2_f64(embedding)) AS FLOAT))").as("embedding"))
    val nq = norm.filter(col("vec_id") < 10)
    val cb = Ann.pqTrain(norm, blocks = 8, kCodes = 16, iters = 2)
    assert(cb.select("blk").distinct().count() === 8)
    val codes = Ann.pqEncode(norm, cb)
    // every vector gets exactly one code per block
    assert(codes.count() === norm.count() * 8)
    val adc = topkSet(Ann.pqAdcTopK(codes, cb, nq, k = 10))
    val exact = topkSet(Ann.cosineTopK(norm, nq, k = 10))
    val recall = adc.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"ADC recall@10 = $recall")
  }

  test("adcRefine recovers exact ordering from ADC's quantized shortlist") {
    // unit-normalize so L2 ordering == the cosine baseline's
    val norm = emb.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(CAST(x AS DOUBLE)" +
        " / sqrt(norm2_f64(embedding)) AS FLOAT))").as("embedding"))
    val nq = norm.filter(col("vec_id") < 10)
    val cb = Ann.pqTrain(norm, blocks = 8, kCodes = 16, iters = 2)
    val codes = Ann.pqEncode(norm, cb)
    val exact = topkSet(Ann.cosineTopK(norm, nq, k = 10))
    val adc = topkSet(Ann.pqAdcTopK(codes, cb, nq, k = 10))
    val refined = topkSet(
      Ann.adcRefine(Ann.pqAdcTopK(codes, cb, nq, k = 50), norm, nq, k = 10))
    val rAdc = adc.intersect(exact).size.toDouble / exact.size
    val rRef = refined.intersect(exact).size.toDouble / exact.size
    // the refine is exact over the shortlist: it can only gain
    assert(rRef >= rAdc, s"refine lost recall: $rRef < $rAdc")
    assert(rRef >= 0.6, s"refined recall@10 = $rRef (adc = $rAdc)")
    // rank sanity: every query returns <= 10 rows, ranks 1..n dense
    val rr = Ann.adcRefine(Ann.pqAdcTopK(codes, cb, nq, k = 50),
      norm, nq, k = 10)
    assert(rr.groupBy("qid").count().filter(col("count") > 10).count() == 0)
  }

  test("ivfResiduals: centroid + residual reconstructs; assignment == ivfAssign") {
    val cent = Ann.kmeansCentroids(emb, kClusters = 4, iters = 2)
    val res = Ann.ivfResiduals(emb, cent)
    assert(res.count() === emb.count())
    // same winner as ivfAssign (identical ranking expression)
    val a1 = Ann.ivfAssign(emb, cent).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    res.select("vid", "cid").collect().foreach { r =>
      assert(a1(r.getLong(0)) == r.getLong(1), s"cid mismatch vid ${r.getLong(0)}")
    }
    // x == c_cid + res elementwise (double math, exact reconstruction)
    val bad = res.join(cent, Seq("cid"))
      .join(emb.select(col("vec_id").as("vid"), col("embedding")), Seq("vid"))
      .withColumn("err", expr(
        "aggregate(zip_with(zip_with(centroid, res, (c, r) -> c + r), " +
          "embedding, (s, x) -> abs(s - CAST(x AS DOUBLE)))," +
          " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
      .filter(col("err") > 1e-9)
    assert(bad.count() === 0, "centroid + residual != original vector")
  }

  test("ivfAdcTopK with one list == plain pqAdcTopK (shift invariance)") {
    // With kClusters = 1 every residual is x - mean: k-means
    // assignments and Lloyd updates are shift-invariant, so the
    // residual codebook is the plain codebook shifted by -mean and
    // the ADC distances coincide — IVFADC degenerates to plain ADC.
    val norm = emb.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(CAST(x AS DOUBLE)" +
        " / sqrt(norm2_f64(embedding)) AS FLOAT))").as("embedding"))
    val nq = norm.filter(col("vec_id") < 10)
    val one = Ann.kmeansCentroids(norm, kClusters = 1, iters = 2,
      allowFewer = false)
    val res = Ann.ivfResiduals(norm, one)
    val rcb = Ann.pqTrain(res, blocks = 8, kCodes = 16, iters = 2,
      idCol = "vid", embCol = "res")
    val rcodes = Ann.ivfPqEncode(res, rcb)
    val ivfadc = topkSet(
      Ann.ivfAdcTopK(rcodes, one, rcb, nq, nprobe = 1, k = 10))
    val cb = Ann.pqTrain(norm, blocks = 8, kCodes = 16, iters = 2)
    val plain = topkSet(Ann.pqAdcTopK(Ann.pqEncode(norm, cb), cb, nq, k = 10))
    assert(ivfadc === plain)
  }

  test("residual PQ resolves intra-cluster structure plain PQ quantizes away") {
    import spark.implicits._
    // Replica-cloud corpus (the adversarial regime of
    // probes/ann_recall_r17.log at
    // mini scale): 3 bases far apart in R^8, 8 replicas each with
    // small DETERMINISTIC per-(vid, dim) offsets. Plain PQ's codebook
    // spends its codes describing base positions, so ADC largely ties
    // inside a cloud; the residual codebook describes only the
    // offsets and resolves them.
    val vecs = for {
      c <- 0 until 3; k <- 0 until 8
    } yield {
      val vid = (k * 3 + c).toLong // interleaved: seeds hit every base
      val base = Array.fill(8)(0.0f)
      base(c) = 100.0f
      val noisy = base.zipWithIndex.map { case (x, i) =>
        x + ((vid * 7 + i * 13) % 11).toFloat / 4.0f
      }
      (vid, noisy.toSeq)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val qs = corpus.filter(col("vec_id") < 3) // one query per cloud
    val exact5 = topkSet(Ann.cosineTopK(corpus, qs, k = 5))

    val cent = Ann.kmeansCentroids(corpus, kClusters = 3, iters = 3)
    val res = Ann.ivfResiduals(corpus, cent)
    val rcb = Ann.pqTrain(res, blocks = 2, kCodes = 8, iters = 3,
      idCol = "vid", embCol = "res")
    val rAdc = topkSet(Ann.ivfAdcTopK(Ann.ivfPqEncode(res, rcb), cent, rcb,
      qs, nprobe = 3, k = 5))

    val cb = Ann.pqTrain(corpus, blocks = 2, kCodes = 8, iters = 3)
    val pAdc = topkSet(Ann.pqAdcTopK(Ann.pqEncode(corpus, cb), cb, qs, k = 5))

    val rr = rAdc.intersect(exact5).size.toDouble / exact5.size
    val rp = pAdc.intersect(exact5).size.toDouble / exact5.size
    assert(rr > rp, s"residual recall $rr must beat plain $rp here")
    assert(rr >= 0.8, s"residual ADC recall@5 = $rr")
  }

  test("ivfTopK with nprobe = 1 keeps useful recall at a 4x candidate cut") {
    val cent = Ann.kmeansCentroids(emb, kClusters = 4, iters = 2)
    val assign = Ann.ivfAssign(emb, cent)
    val ivf = topkSet(Ann.ivfTopK(emb, cent, assign, queries, nprobe = 1, k = 10))
    val exact = topkSet(Ann.cosineTopK(emb, queries, k = 10))
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall@10 = $recall")
    // and the candidate set really is pruned: every result vector is
    // assigned to its query's ONE probed cluster (ivf.size <= exact
    // .size is vacuous — both sides are top-k). The query's nprobe=1
    // probe cluster is its own nearest-centroid assignment (identical
    // round(d2,6)/cid tie-break), so a no-pruning regression that
    // searches every list would surface as a result from a foreign
    // cluster here.
    val vidCid = assign.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qidCid = Ann.ivfAssign(queries, cent).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ivf.foreach { case (qid, vid) =>
      assert(vidCid(vid) == qidCid(qid),
        s"result $vid (cluster ${vidCid(vid)}) outside query $qid's " +
          s"probe cluster ${qidCid(qid)}")
    }
  }

  test("randomProject: deterministic, linear, and JL distance-preserving on average") {
    import spark.implicits._
    val emb = Tables(spark, sfTiny, "embeddings")
    val p1 = Ann.randomProject(emb, 64, 16)
      .as[(Long, Seq[Double])].collect().toMap
    val p2 = Ann.randomProject(emb, 64, 16)
      .as[(Long, Seq[Double])].collect().toMap
    assert(p1 == p2) // same seed -> identical projection, bit for bit
    assert(p1.values.forall(_.size == 16))
    // a different seed is a different (still deterministic) matrix
    val p3 = Ann.randomProject(emb, 64, 16, seed = 6)
      .as[(Long, Seq[Double])].collect().toMap
    assert(p1 != p3)

    // JL property: squared pairwise distances preserved on AVERAGE
    // (E[||Px - Py||²] = ||x - y||², Rademacher matrix) — generous
    // per-pair band at dOut = 16, tight mean band over many pairs
    val orig = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted.take(30)
    val ratios = for {
      Seq(a, b) <- ids.combinations(2).toSeq
      od = d2(orig(a), orig(b)) if od > 0
    } yield d2(p1(a), p1(b)) / od
    val mean = ratios.sum / ratios.size
    assert(mean > 0.8 && mean < 1.25, s"mean distortion $mean")
    assert(ratios.count(r => r > 0.2 && r < 5.0) >= ratios.size * 9 / 10,
      "individual pair distortions out of any plausible JL band")

    // PER-ROW dim fail-fast: a frame whose rows disagree on dims must
    // raise loudly on the mismatched ROW (not silently emit nulls)
    val mixed = spark.range(1)
      .select(lit(1L).as("vec_id"),
        expr("CAST(array_repeat(0.5, 64) AS ARRAY<FLOAT>)").as("embedding"))
      .union(spark.range(1).select(lit(2L).as("vec_id"),
        expr("CAST(array_repeat(0.5, 32) AS ARRAY<FLOAT>)").as("embedding")))
    val e = intercept[Exception] {
      Ann.randomProject(mixed, 64, 16).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("randomProject: vector dim")), e.toString)
    // empty frames pass through empty; NULL embeddings stay null
    assert(Ann.randomProject(emb.limit(0), 64, 16).count() == 0)
  }

  test("zero-norm vectors are excluded, never ranked (NULL-cos tail)") {
    import spark.implicits._
    // cosine is undefined for an all-zero vector: Spark's non-ANSI
    // divide yields NULL, DESC sorts NULLs last, and a short candidate
    // list would pad its top-k tail with NULL-cos rows — the zero
    // vector must simply not appear, on either side
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 0.0f)) // dead/padding row
    ).toDF("vec_id", "embedding")
    val out = Ann.cosineTopK(rows, rows.filter(col("vec_id") <= 1), k = 10)
      .collect()
    assert(out.map(_.getLong(1)).toSet === Set(2L),
      s"zero-norm corpus vector ranked: ${out.mkString(", ")}")
    assert(out.forall(!_.isNullAt(2)), "NULL cos row escaped")
    // a zero-norm QUERY has no defined ranking: zero result rows
    assert(Ann.cosineTopK(rows, rows.filter(col("vec_id") === 3), k = 10)
      .count() === 0)
    // same rule through the IVF path (nprobe = all lists ⇒ exact)
    val cent = Ann.kmeansCentroids(rows, kClusters = 2, iters = 1)
    val asg = Ann.ivfAssign(rows, cent)
    val ivf = Ann.ivfTopK(rows, cent, asg,
      rows.filter(col("vec_id") <= 1), nprobe = 2, k = 10).collect()
    assert(ivf.map(_.getLong(1)).toSet === Set(2L))
  }

  test("dim-mismatched pairs never pad a short top-k tail (NULL-cos rule)") {
    import spark.implicits._
    // a 3-dim corpus vector hidden among 2-dim ones: dot_f64/zip_with
    // over the mismatched pair goes NULL, DESC sorts it last — but
    // row_number still ranks it, so with k > candidates the tail would
    // pad with NULL-cos garbage. The undefined-cosine filter must drop
    // the pair entirely (r13 advice: the exact failure mode the
    // zero-norm fix claimed to close).
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.5f, 0.5f, 0.5f)) // mismatched row
    ).toDF("vec_id", "embedding")
    val out = Ann.cosineTopK(rows, rows.filter(col("vec_id") === 1), k = 10)
      .collect()
    assert(out.map(_.getLong(1)).toSet === Set(2L),
      s"dim-mismatched pair ranked: ${out.mkString(", ")}")
    assert(out.forall(!_.isNullAt(2)), "NULL cos row escaped")
    // and through ivfTopK's rank window (assignment built from the
    // good rows only; the poisoned row rides in via the corpus side)
    val good = rows.filter(col("vec_id") <= 2)
    val cent = Ann.kmeansCentroids(good, kClusters = 2, iters = 1)
    val asg = Ann.ivfAssign(good, cent)
      .unionByName(Seq((3L, 0L)).toDF("vid", "cid"))
    val ivf = Ann.ivfTopK(rows, cent, asg,
      rows.filter(col("vec_id") === 1), nprobe = 2, k = 10).collect()
    assert(ivf.map(_.getLong(1)).toSet === Set(2L),
      s"dim-mismatched pair ranked via IVF: ${ivf.mkString(", ")}")
  }

  test("the winner guard survives column pruning (filter, not projection)") {
    import spark.implicits._
    // r13 advice: a guard CASE projected onto the cid column is pruned
    // away the moment a consumer selects only vid — the poisoned
    // vector would then silently land in cid 0. As a FILTER predicate
    // it survives pruning and still raises.
    val cent = Ann.kmeansCentroids(emb, kClusters = 4, iters = 1)
    val bad = emb.select("vec_id", "embedding").unionByName(
      Seq((999L, Seq.fill(48)(0.5f))).toDF("vec_id", "embedding"))
    val e = intercept[Exception] {
      Ann.ivfAssign(bad, cent).select("vid").collect()
    }
    assert(e.getMessage.contains("ivfAssign") &&
      e.getMessage.contains("999"), e.getMessage)
  }

  test("kmeansCentroids refuses fewer vectors than clusters, loudly") {
    // a silent shrink would mint fewer cids than kClusters and break
    // every consumer's nprobe/kClusters math — same guard as pqTrain
    val few = emb.filter(col("vec_id") < 3)
    val e = intercept[IllegalArgumentException] {
      Ann.kmeansCentroids(few, kClusters = 8, iters = 1)
    }
    assert(e.getMessage.contains("needs >= 8 distinct-id vectors"),
      e.getMessage)
    // allowFewer opts into the shrink: every vector seeds its own
    // cluster and stays its only member, so each centroid is its vector
    val byCid = Ann.kmeansCentroids(few, kClusters = 8, iters = 1,
        allowFewer = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val vecs = few.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble))
    assert(vecs.length == 3 && byCid.keySet == Set(0L, 1L, 2L))
    for (i <- 0 until 3) assert(byCid(i.toLong) == vecs(i), s"cid $i")
  }

  test("kmeansCentroids is pqTrain's one-block case (cid = code)") {
    def rounded(df: org.apache.spark.sql.DataFrame,
                id: String): Map[Long, Seq[Double]] =
      df.select(col(id), expr("transform(centroid, c -> round(c, 9))"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val km = Ann.kmeansCentroids(emb, kClusters = 4, iters = 2)
    val pq = Ann.pqTrain(emb, blocks = 1, kCodes = 4, iters = 2)
    assert(pq.select("blk").distinct().collect().map(_.getLong(0)).toSeq ==
      Seq(0L))
    val (k, p) = (rounded(km, "cid"), rounded(pq, "code"))
    assert(k.size == 4 && k == p, s"kmeans $k\npqTrain $p")
  }

  test("per-row dim mismatch raises instead of silently ranking NULL first") {
    import spark.implicits._
    // one 48-dim vector hidden in a 64-dim corpus: zip_with would pad
    // it with nulls, d2 would go NULL, and ascending NULLS FIRST would
    // silently assign cid/code 0 — the guard must raise instead (the
    // head-row requireDimMatches check cannot see it)
    val cent = Ann.kmeansCentroids(emb, kClusters = 4, iters = 1)
    val bad = emb.select("vec_id", "embedding").unionByName(
      Seq((999L, Seq.fill(48)(0.5f))).toDF("vec_id", "embedding"))
    val e1 = intercept[Exception] {
      Ann.ivfAssign(bad, cent).collect()
    }
    assert(e1.getMessage.contains("ivfAssign") &&
      e1.getMessage.contains("999"), e1.getMessage)
    // the bad row hides BEHIND good rows, so the head-row
    // requireDimMatches passes and only the per-row guard can catch it
    val cb = Ann.pqTrain(emb, blocks = 8, kCodes = 4, iters = 1)
    val e2 = intercept[Exception] {
      Ann.pqEncode(bad, cb).collect()
    }
    assert(e2.getMessage.contains("pqEncode") &&
      e2.getMessage.contains("999"), e2.getMessage)
  }

  test("randomProject: NULL embedding yields a genuinely NULL proj value") {
    import spark.implicits._
    // a NULL input vector must produce proj IS NULL — not an array of
    // dOut NULL elements, which downstream proj.isNull checks miss
    val rows = Seq((1L, Some(Seq.fill(4)(1.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val out = Ann.randomProject(rows, 4, 2)
    assert(out.filter(col("vec_id") === 2 && col("proj").isNull)
      .count() == 1, out.collect().mkString(", "))
    assert(out.filter(col("vec_id") === 1).head().getSeq[Double](1)
      .size == 2)
  }

  test("randomProject: a NULL ELEMENT inside a sized vector raises, " +
    "never an all-NULL proj (review r19)") {
    import spark.implicits._
    // correctly-sized vector with one NULL element: the dim guard
    // passes, but the fold would NULL every output dim and emit a
    // NON-NULL proj of NULL elements — raise instead
    val rows = Seq((1L, Seq[java.lang.Float](1.0f, null, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] { Ann.randomProject(rows, 4, 2).collect() }
    assert(e.getMessage.contains("NULL element"), e.getMessage)
  }

  test("kmeans/pqTrain: NULL embedding elements raise with the vid, " +
    "never a truncated silent dist2 (review r19)") {
    import spark.implicits._
    // the exploded assignment's sum('d') SKIPS NULL dims — unguarded,
    // a vector with a NULL element would be assigned on a truncated
    // distance with no error
    val bad = emb.select("vec_id", "embedding").unionByName(
      Seq((999L, Seq[java.lang.Float](null) ++ Seq.fill(47)(
        java.lang.Float.valueOf(0.5f)))).toDF("vec_id", "embedding"))
    val e1 = intercept[Exception] {
      Ann.kmeansCentroids(bad, kClusters = 4, iters = 1).collect()
    }
    assert(e1.getMessage.contains("kmeansCentroids") &&
      e1.getMessage.contains("999"), e1.getMessage)
    val e2 = intercept[Exception] {
      Ann.pqTrain(bad, blocks = 8, kCodes = 4, iters = 1).collect()
    }
    assert(e2.getMessage.contains("pqTrain") &&
      e2.getMessage.contains("999"), e2.getMessage)
  }

  test("pqTrain: duplicate-id samples cannot shrink the codebook " +
    "silently (review r19)") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      Seq.tabulate(8)(i => ((seed * 31 + i * 7) % 10).toFloat)
    // 3 rows but only 2 DISTINCT ids: the old row-count guard passed
    // while dense_rank minted 2 codes instead of 3
    val dup = Seq((1L, vec(1)), (1L, vec(2)), (2L, vec(3)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.pqTrain(dup, blocks = 2, kCodes = 3, iters = 1)
    }
    assert(e.getMessage.contains("distinct-id"), e.getMessage)
    // with enough distinct ids the full codebook trains even when a
    // seeded id carries duplicate rows (seed-init aggregates them)
    val ok = Seq((1L, vec(1)), (1L, vec(2)), (2L, vec(3)), (3L, vec(4)))
      .toDF("vec_id", "embedding")
    val cb = Ann.pqTrain(ok, blocks = 2, kCodes = 3, iters = 1)
    assert(cb.select("blk", "code").distinct().count() == 6,
      cb.collect().mkString(", ")) // 2 blocks x 3 codes
  }

  test("pqEncode: empty codebook and NULL-probe rows refuse with " +
    "named errors, not bare NPEs (review r19)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Seq[Double])]
      .toDF("blk", "code", "centroid")
    val e1 = intercept[IllegalArgumentException] {
      Ann.pqEncode(emb, empty)
    }
    assert(e1.getMessage.contains("EMPTY codebook"), e1.getMessage)
    val cb = Ann.pqTrain(emb, blocks = 8, kCodes = 4, iters = 1)
    val nullFirst = Seq((1L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Ann.pqEncode(nullFirst, cb)
    }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
  }
}
