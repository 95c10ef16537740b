package graft.pipeline

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import scala.reflect.ClassTag
import scala.util.Random

/** Exact CC vs the fixed-round approximation: a dup CHAIN (near-dup
  * transitivity A≈B≈C≈…) of diameter > 3 is exactly the case the
  * px19 3-round contract mislabels and the fixpoint must get right.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a diameter-7 chain collapses to one component (3 rounds cannot)") {
    import spark.implicits._
    // chain 1-2-3-4-5-6-7-8 plus isolated 100
    val docs = (Seq(100L) ++ (1L to 8L)).toDF("doc_id")
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("d1", "d2")

    val cc = labelsOf(Dedup.connectedComponents(docs, edges))
    assert((1L to 8L).forall(cc(_) == 1L), s"fixpoint must reach the end: $cc")
    assert(cc(100L) == 100L)

    // the 3-round approximation provably under-labels the chain tail —
    // documenting WHY px42 exists alongside px19's fixed contract
    val approx = labelsOf(Dedup.clusters(docs, edges, rounds = 3))
    assert(approx(8L) != 1L,
      "if 3 rounds suddenly solve diameter 7, px19's contract changed")
  }

  test("star lshEdges give the same components as the all-pairs clique") {
    import graft.Tables
    // the r6 mega-bucket fix: per-bucket star edges must produce
    // byte-identical component labels to the quadratic pair list on a
    // real LSH graph (they connect exactly the same signature buckets)
    val docs = Tables(spark, sfTiny, "documents").select("doc_id", "text")
    val viaClique = labelsOf(
      Dedup.connectedComponents(docs, Dedup.lshCandidates(docs)))
    val viaStar = labelsOf(
      Dedup.connectedComponents(docs, Dedup.lshEdges(docs)))
    assert(viaStar == viaClique)
    // and the edge list is never larger than the clique's
    val nStar = Dedup.lshEdges(docs).count()
    val nClique = Dedup.lshCandidates(docs).count()
    assert(nStar <= nClique, s"star $nStar > clique $nClique")
  }

  test("star edges stay linear where the clique is quadratic (mega-bucket)") {
    import spark.implicits._
    // 200 identical docs = one LSH bucket per band: clique pairs are
    // b(b-1)/2, the star is b-1 — the 100 TB boilerplate shape
    val same = (1L to 200L).map(i => (i, "the same boilerplate text " * 8))
      .toDF("doc_id", "text")
    assert(Dedup.lshEdges(same).count() == 199L)
    assert(Dedup.lshCandidates(same).count() == 200L * 199 / 2)
    // and the keepers collapse to the min id
    val keep = Dedup.nearDupKeepers(same).collect().map(_.getLong(0)).toSeq
    assert(keep == Seq(1L))
  }

  test("star edges: degenerate corpora (empty, single doc, no dups)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.lshEdges(empty).count() == 0)
    assert(Dedup.nearDupKeepers(empty).count() == 0)
    val one = Seq((7L, "just one document here")).toDF("doc_id", "text")
    assert(Dedup.lshEdges(one).count() == 0)
    assert(Dedup.nearDupKeepers(one).collect().map(_.getLong(0)).toSeq
      == Seq(7L))
    // all-distinct corpus: no bucket ever has 2 members -> no edges,
    // every doc its own keeper
    val distinctDocs = (1L to 20L)
      .map(i => (i, s"totally unique document number $i with words " +
        ("x" + i) * 3)).toDF("doc_id", "text")
    assert(Dedup.lshEdges(distinctDocs).count() == 0)
    assert(Dedup.nearDupKeepers(distinctDocs).count() == 20)
  }

  test("agrees with the fixed-round labels on an LSH graph already converged") {
    import spark.implicits._
    // two tight pairs + a triangle: diameter <= 2, so 3 rounds converge
    // and both algorithms must agree exactly
    val docs = (1L to 7L).toDF("doc_id")
    val edges = Seq((1L, 2L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("d1", "d2")
    val cc = labelsOf(Dedup.connectedComponents(docs, edges))
    val approx = labelsOf(Dedup.clusters(docs, edges, rounds = 3))
    assert(cc == approx)
    assert(cc(7L) == 5L && cc(2L) == 1L && cc(4L) == 3L)
  }

  test("Jobs LeakageSplit labels with EXACT components: deep chains land in one fold") {
    import spark.implicits._
    // The r12 verdict's case: a dup chain of diameter > 3 converges
    // to SEVERAL labels under 3-round min-label propagation, which
    // hash to independent folds — silently violating the job's "no
    // dup group straddles train/val" contract. The CLI now labels
    // with the exact fixpoint; this drives the CLI's precomputed-edge
    // path (the 100 TB shape: the LSH edge list is a written artifact
    // of the dedup pass) with a diameter-7 chain 8-9-…-15 plus
    // isolated docs and a tight pair.
    val docs = (1L to 20L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    val edges = ((8L to 14L).map(i => (i, i + 1)) ++ Seq((3L, 5L)))
      .toDF("d1", "d2")
    val w = java.nio.file.Files.createTempDirectory("leakcc").toString
    docs.write.parquet(s"$w/in")
    edges.write.parquet(s"$w/edges")

    // non-vacuity guard: 3-round labeling provably splits this chain
    val approx = labelsOf(Dedup.clusters(docs, edges, rounds = 3))
    assert((8L to 15L).map(approx).toSet.size > 1,
      s"if 3 rounds solve diameter 7, the fixture is vacuous: $approx")

    graft.jobs.Jobs.leakageSplit(spark, s"parquet:$w/in", s"$w/split",
      edgesIn = Some(s"$w/edges"))
    val sp = spark.read.parquet(s"$w/split")
      .select("doc_id", "cluster", "fold", "split")
      .as[(Long, Long, Long, String)].collect()
    val byDoc = sp.map(r => r._1 -> r).toMap
    assert(sp.length == 20)
    // the whole chain carries ONE exact label, ONE fold, ONE split
    assert((8L to 15L).map(byDoc(_)._2).toSet == Set(8L))
    assert((8L to 15L).map(byDoc(_)._3).toSet.size == 1)
    assert((8L to 15L).map(byDoc(_)._4).toSet.size == 1)
    // the pair stays together; isolated docs keep their own label
    assert(byDoc(5L)._2 == 3L && byDoc(5L)._3 == byDoc(3L)._3)
    assert(byDoc(1L)._2 == 1L && byDoc(20L)._2 == 20L)
  }

  test("leakageSplit: cluster members never straddle the split") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, sfTiny, "documents")
    val labels = Dedup.clusters(docs, Dedup.lshCandidates(docs))
    val sp = Dedup.leakageSplit(labels)
    // the no-leak guarantee: one fold and one split per cluster label
    assert(sp.groupBy("lbl")
      .agg(countDistinct("fold").as("nf"), countDistinct("split").as("ns"))
      .filter($"nf" > 1 || $"ns" > 1).isEmpty)
    val rows = sp.select("doc_id", "fold", "split")
      .as[(Long, Long, String)].collect()
    assert(rows.forall(r => r._2 >= 0 && r._2 < 10))
    // nVal=1 of 10: only fold 9 is val, and both sides are populated
    assert(rows.forall(r => (r._3 == "val") == (r._2 == 9L)))
    assert(rows.exists(_._3 == "val") && rows.exists(_._3 == "train"))
    // deterministic rerun
    val again = Dedup.leakageSplit(labels)
      .select("doc_id", "fold", "split").as[(Long, Long, String)].collect()
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // a real multi-doc cluster exists at this SF and stays together
    val multi = sp.groupBy("lbl").agg(count(lit(1)).as("n"),
        countDistinct("split").as("ns"))
      .filter($"n" > 1).select("ns").as[Long].collect()
    assert(multi.nonEmpty && multi.forall(_ == 1L))
  }

  test("connectedComponents releases superseded checkpoint blocks " +
    "(review r19: at most the returned frame's own checkpoint survives)") {
    import spark.implicits._
    // a long chain forces multiple blocks; pre-fix, every block's
    // localCheckpoint plus the edge frame stayed pinned for the session
    val n = 600L
    val docs = spark.range(n).select($"id".as("doc_id"))
    val edges = spark.range(n - 1)
      .select($"id".as("d1"), ($"id" + 1L).as("d2"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val labels = Dedup.connectedComponents(docs, edges)
    assert(labels.select("lbl").distinct().count() == 1L)
    val after = spark.sparkContext.getPersistentRDDs.size
    // one chain of blocks ran; only the RETURNED labels' final
    // checkpoint may remain pinned (+1), everything superseded and
    // the bi edge frame released
    assert(after <= before + 1,
      s"persistent RDDs grew $before -> $after: superseded " +
        "connectedComponents checkpoints are leaking")
  }

  /** Driver-side oracle: union-find over docs ∪ edge endpoints, every
    * root its set's minimum → node -> component minimum id.
    */
  private def oracle[T: Ordering](docs: Seq[T], edges: Seq[(T, T)]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x0: T): T = {
      var x = x0
      while (parent(x) != x) x = parent(x)
      var y = x0 // compress the path just walked
      while (parent(y) != x) { val next = parent(y); parent(y) = x; y = next }
      x
    }
    (docs ++ edges.flatMap(e => Seq(e._1, e._2))).foreach(x => parent.getOrElseUpdate(x, x))
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (Ordering[T].lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** A seeded adversarial graph over ids 0..n-1, relabeled by a random
    * permutation: a chain of diameter ≥ 64, a cycle, a star whose
    * center is not its minimum, small random components, duplicate,
    * reversed and self-loop edges, and isolated docs; edge order
    * shuffled. → (doc ids, edges).
    */
  private def adversarialGraph(seed: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new Random(seed)
    val n = 400
    val id = rnd.shuffle((0L until n.toLong).toVector).map(_ * 7919L + 13L)
    val chain = (0 until 80).map(i => (id(i), id(i + 1)))
    val cycle = (100 until 130).map(i => (id(i), id(if (i == 129) 100 else i + 1)))
    val star = (141 until 165).map(i => (id(140), id(i)))
    val small = (200 until 300).map(i => (id(i), id(200 + rnd.nextInt(100))))
    val base = chain ++ cycle ++ star ++ small
    val dups = base.take(40) ++ base.takeRight(40).map(_.swap) ++
      (0 until 20).map(_ => { val x = id(rnd.nextInt(n)); (x, x) })
    // ids 81-99, 130-139, 165-199 and 300-399 carry at most a
    // self-loop: isolated docs
    (id, rnd.shuffle(base ++ dups))
  }

  private def ccLabels[T: ClassTag](docs: Seq[T], edges: Seq[(T, T)],
                                    parts: Int): Map[T, T] = {
    import spark.implicits._
    val (docDf, edgeDf) = implicitly[ClassTag[T]].runtimeClass match {
      case c if c == classOf[Long] =>
        (docs.asInstanceOf[Seq[Long]].toDF("doc_id"),
          edges.asInstanceOf[Seq[(Long, Long)]].toDF("d1", "d2"))
      case _ =>
        (docs.asInstanceOf[Seq[String]].toDF("doc_id"),
          edges.asInstanceOf[Seq[(String, String)]].toDF("d1", "d2"))
    }
    Dedup.connectedComponents(docDf, edgeDf.repartition(parts)).collect()
      .map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap
  }

  test("property: labels equal a driver-side union-find oracle " +
    "(bigint and string ids; 1, 3 and 16 edge partitions)") {
    for (parts <- Seq(1, 3, 16); seed <- Seq(parts, parts + 100)) {
      val (ids, edges) = adversarialGraph(seed)
      assert(ccLabels(ids, edges, parts) == oracle(ids, edges),
        s"bigint ids, seed $seed, $parts partitions")
      // string ids whose order differs from the numeric one ("n13" <
      // "n7"): the contraction must keep the type and the string order
      val sIds = ids.map(i => s"n$i")
      val sEdges = edges.map { case (a, b) => (s"n$a", s"n$b") }
      assert(ccLabels(sIds, sEdges, parts) == oracle(sIds, sEdges),
        s"string ids, seed $seed, $parts partitions")
    }
  }

  test("endpoints outside docs: labels start from docs only") {
    import spark.implicits._
    // 50 and 80-90 hang off docs; 60-70 is a component with no doc,
    // which the contraction turns into a star like any other
    val docs = Seq(1L, 2L).toDF("doc_id")
    val edges = Seq((1L, 50L), (60L, 70L), (2L, 80L), (80L, 90L))
      .toDF("d1", "d2")
    for (parts <- Seq(1, 3))
      assert(labelsOf(Dedup.connectedComponents(docs, edges.repartition(parts)))
        == Map(1L -> 1L, 50L -> 1L, 2L -> 2L, 80L -> 2L, 90L -> 2L))
  }

  test("property: an empty edge set labels every doc by itself") {
    val ids = Seq(5L, 3L, 9L)
    assert(ccLabels(ids, Seq.empty[(Long, Long)], 1) ==
      ids.map(i => i -> i).toMap)
  }

  test("property: a partition larger than the contraction chunk " +
    "still gets exact labels") {
    val n = Dedup.ContractChunk + 1500
    val rnd = new Random(7)
    val id = rnd.shuffle((0L to n.toLong).toVector)
    // a relabeled chain: no chunk holds a whole component
    val edges = (0 until n).map(i => (id(i), id(i + 1)))
    assert(ccLabels(id, edges, 1) == oracle(id, edges))
  }

  /** Jobs one call to connectedComponents runs, counted by a listener. */
  private def ccJobs(docs: DataFrame, edges: DataFrame): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.Listeners.drain(sc)
    sc.addSparkListener(l)
    try {
      Dedup.connectedComponents(docs, edges)
      org.apache.spark.graft.Listeners.drain(sc)
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("one edge partition: contraction solves the graph and CC runs " +
    "no full block (listener-counted jobs)") {
    import spark.implicits._
    // a chain of diameter 299: min-label propagation alone needs
    // O(log 299) blocks, the one-partition contraction needs none
    val n = 300L
    val docs = spark.range(n).select($"id".as("doc_id"))
    val edges = spark.range(n - 1).select($"id".as("d1"), ($"id" + 1L).as("d2"))
    // the edge checkpoint's job, the seed-and-certify stages and the
    // certificate count
    val solved = ccJobs(docs, edges.repartition(1))
    assert(solved <= 8, s"$solved jobs: a one-partition CC ran a full block")
    // non-vacuity: over 16 partitions the chain needs blocks, and they
    // cost more jobs than the whole one-partition call
    val blocked = ccJobs(docs, edges.repartition(16))
    assert(blocked - solved > 8, s"blocked $blocked vs solved $solved")
  }

  /** Label rounds one call to connectedComponents runs: the
    * checkpoints it creates (seen by a listener at each job start),
    * less the edge frame's. The seed round and each block take one.
    */
  private def ccRounds(docs: DataFrame, edges: DataFrame): (Map[Long, Long], Int) = {
    val sc = spark.sparkContext
    org.apache.spark.graft.Listeners.drain(sc)
    val before = sc.getPersistentRDDs.keySet
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.keys.foreach(k => if (!before(k)) seen.add(k))
    }
    sc.addSparkListener(l)
    val labels = try {
      val r = Dedup.connectedComponents(docs, edges)
      org.apache.spark.graft.Listeners.drain(sc)
      labelsOf(r)
    } finally sc.removeSparkListener(l)
    (labels, seen.size - 1)
  }

  test("edges over several chunks skip the seed round: the first " +
    "block starts from the identity labels") {
    import spark.implicits._
    // a chain of diameter 5: one block certifies it, the seed round
    // (two propagations) cannot
    val docs = (0L to 5L).toDF("doc_id")
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("d1", "d2")
    val chain = (0L to 5L).map(_ -> 0L).toMap
    // five edges over 16 partitions: several chunks, no seed round, so
    // the only round is one block
    assert(ccRounds(docs, edges.repartition(16)) == (chain, 1))
    // one partition: the seed round solves the chain
    assert(ccRounds(docs, edges.repartition(1)) == (chain, 1))
  }

  test("a failing block action releases every checkpoint the call took") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a chain over 16 edge partitions: full blocks follow the seed
    val n = 3000L
    val docs = spark.range(n).select($"id".as("doc_id"))
    val edges = spark.range(n - 1)
      .select($"id".as("d1"), ($"id" + 1L).as("d2")).repartition(16)
    org.apache.spark.graft.Listeners.drain(sc)
    // only RDDs the call persists: the ContextCleaner may release RDDs
    // that earlier tests left persisted at any GC, mid-call
    val before = sc.getPersistentRDDs.keySet
    def held: Int = sc.getPersistentRDDs.keys.count(k => !before(k))
    // once the edge frame and a block checkpoint are held, cancel every
    // job: the call fails inside a block action
    @volatile var heldAtFailure = -1
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (heldAtFailure < 0 && held >= 2) heldAtFailure = held
        if (heldAtFailure >= 0) sc.cancelJob(e.jobId)
      }
    }
    sc.addSparkListener(l)
    try intercept[Exception](Dedup.connectedComponents(docs, edges))
    finally sc.removeSparkListener(l)
    assert(heldAtFailure >= 2,
      s"the failure hit before a block checkpoint existed ($heldAtFailure)")
    assert(held == 0, "a failed connectedComponents leaked checkpoints")
  }
}
