package graft.streaming

import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming NEAR-dup detection — the incremental twin of the batch
  * MinHash/LSH chain (`Dedup.lshCandidates`), for deduplicating a
  * crawl stream as it arrives instead of re-running batch dedup over
  * the accumulated corpus.
  *
  * The enabling piece is `Dedup.minhashWideNarrow`: per-row MinHash
  * signatures with NO aggregation, so banding happens before any
  * stateful operator and the only state in the query is the
  * first-arrival ledger itself (Structured Streaming allows one
  * stateful op per query without output-mode contortions).
  *
  * Scale: state is keyed by (band, sig) — the same key the batch
  * LSH self-join buckets on — and evicted by event-time timeout once
  * the watermark passes `horizon` beyond a signature's last sighting,
  * so state holds only the active horizon's signatures, never the
  * full corpus history. Keepers are MIN doc_id per signature (batch
  * arrival order within a micro-batch is not defined, so "first
  * arrival" is resolved deterministically by id — matching the batch
  * min-id keeper convention).
  */
object NearDupStream {

  final case class BandRow(band: Int, sig: String, doc_id: Long,
                           ts: java.sql.Timestamp)

  /** One ledger row per (doc, band) sighting — plus a REASSIGNMENT
    * row when a later micro-batch delivers a smaller doc_id for a
    * signature (review r16): the old keeper is re-pointed at the new
    * minimum, because its earlier self-keeper row is immutable in an
    * append-mode sink.
    *
    * The documented READ is [[resolveKeepers]] — a TRANSITIVE
    * keeper-of-keeper reduction, NOT a plain `min(keeper)` per doc
    * (ADVICE r16): a doc emitted before a later keeper decrease keeps
    * its then-current keeper in the append stream (ids 100 then 80
    * in batch 1, id 1 in batch 2 → doc 80's only row says keeper
    * 100), and only the chain 80→100→1 recovers batch truth. Emitting
    * a re-point row for EVERY stale doc instead would require keeping
    * every doc id ever seen per (band, sig) in operator state —
    * O(cluster size), unbounded on the boilerplate-heavy signatures a
    * 100 TB crawl is full of — so the state stays one Long per group
    * and the fixpoint runs on the (small) ledger at read time.
    * `doc_id != keeper` on the RESOLVED rows marks exactly the
    * near-dup candidates the batch LSH join would emit.
    */
  final case class Collision(band: Int, sig: String, doc_id: Long,
                             keeper: Long)

  /** The PERSISTED-store admit cycle as a stream: every micro-batch
    * runs `Jobs.admitCycle` — band-checked against the signature
    * store, exact-verified against the (candidate-pruned) corpus,
    * verdicts appended to a parquet ledger, novel docs admitted
    * (signatures + text). Complements [[collisionLedger]]: the ledger
    * holds only the active horizon in operator state and forgets on
    * restart; the store cycle is durable across restarts and shared
    * with batch writers, at the cost of a store read per micro-batch.
    * Intra-micro-batch duplicates follow the batch API's contract
    * (out of scope — compose with `Dedup.nearDupKeepers` upstream).
    *
    * Ledger layout: `verdictsDir/batch_id=N/…` (parquet partitioned by
    * batch id), with a `_COMMITTED` marker file inside each partition
    * written AFTER that batch's append returns. The marker — not the
    * bare directory — is the replay guard (r12): a crash mid-commit
    * leaves a partial partition, and treating its existence as "done"
    * would silently drop the rest of the batch on restart; a
    * marker-less partition is instead deleted and the batch redone.
    * The stream only ever probes one marker per micro-batch, so guard
    * cost stays O(1) no matter how long the stream has been running.
    *
    * MIGRATION from the pre-r11 flat layout (root-level part files
    * with a batch_id DATA column): move each old batch's files into
    * `batch_id=N/` directories (dropping the now-partition column is
    * optional — readers take the partition value) and touch a
    * `_COMMITTED` file in each BEFORE restarting the stream. A mixed
    * flat+partitioned directory is unreadable, and the marker probe
    * cannot see flat-layout batches — a restart over an unmigrated
    * ledger would replay (and re-append) the last flat batch; an
    * r11-partitioned ledger without markers would re-run its most
    * recent batches (absorbed downstream, but wasteful).
    */
  def storeAdmitStream(docs: DataFrame, sigStore: String,
                       corpusDir: String, verdictsDir: String,
                       checkpointDir: String,
                       threshold: Double = 0.5,
                       trigger: org.apache.spark.sql.streaming.Trigger =
                         org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Checkpoint-identity guard: batch ids restart from 0 whenever the
    // checkpoint is cleared or pointed elsewhere, so a FRESH checkpoint
    // against an EXISTING ledger would find the old run's _COMMITTED
    // markers and silently skip whole batches — arriving docs neither
    // checked nor admitted, with nothing failing loudly. The ledger
    // root carries a `_CHECKPOINT` tag (underscore-prefixed: invisible
    // to parquet readers, like _SUCCESS) naming the checkpoint that
    // owns it; a mismatch refuses to start. Ledgers created before
    // this guard (batches present, no tag) are never auto-adopted —
    // the operator creates the tag explicitly, see the guard below.
    {
      val root = new org.apache.hadoop.fs.Path(verdictsDir)
      val fs = root.getFileSystem(
        docs.sparkSession.sessionState.newHadoopConf())
      val tag = new org.apache.hadoop.fs.Path(root, "_CHECKPOINT")
      // qualify against the CHECKPOINT's own filesystem, not the
      // verdicts dir's (review r19): a relative or cross-scheme
      // checkpoint path qualified against the wrong FS/working dir
      // yields a different identity string per launch context, and
      // the guard would refuse a correctly-paired restart with a
      // misleading message. Same string as before for the common
      // same-scheme absolute-path case.
      val ckptPath = new org.apache.hadoop.fs.Path(checkpointDir)
      val current = ckptPath.getFileSystem(
        docs.sparkSession.sessionState.newHadoopConf())
        .makeQualified(ckptPath).toString
      if (fs.exists(tag)) {
        val in = fs.open(tag)
        val prior =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        require(prior == current,
          s"storeAdmitStream: verdicts ledger $verdictsDir belongs to " +
            s"checkpoint '$prior' but this stream uses '$current'. A " +
            s"fresh checkpoint restarts batch ids from 0 and the " +
            s"per-batch _COMMITTED markers would silently SKIP the new " +
            s"run's batches. Resume with the original checkpointDir, " +
            s"start a fresh verdictsDir+sigStore, or delete $tag after " +
            s"manually reconciling the ledger.")
      } else if (fs.exists(root) || fs.mkdirs(root)) {
        // Auto-tag only a ledger with NO batches yet. An untagged root
        // that already holds batch_id= partitions is a PRE-GUARD
        // ledger, and this stream's checkpoint may not be the one that
        // wrote it — auto-adopting it would tag the old markers with a
        // FRESH checkpoint and silently skip the new run's batches,
        // the exact hazard the tag exists to prevent (r13 advice). The
        // operator must assert the pairing explicitly by creating the
        // tag (one file naming this checkpointDir, qualified).
        val legacy = fs.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        require(legacy.isEmpty,
          s"storeAdmitStream: verdicts ledger $verdictsDir predates the " +
            s"checkpoint-identity tag (${legacy.length} batch_id= " +
            s"partition(s), no _CHECKPOINT file). If '$current' is " +
            s"really the checkpoint that wrote it, assert so by " +
            s"creating $tag containing exactly that string; otherwise " +
            s"the old _COMMITTED markers would silently skip this " +
            s"run's batches. Never auto-adopted.")
        val outS = fs.create(tag, false)
        try outS.write(current.getBytes("UTF-8")) finally outS.close()
      }
    }
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // Replay guard: foreachBatch is at-least-once, and the admit
        // appends are not idempotent at the row level — a replayed
        // micro-batch would band-match its own already-admitted
        // signatures (self-dup verdicts) and double-append. The ledger
        // is PARTITIONED by batch_id, so "this batch already appended"
        // is one O(1) directory-existence probe — NOT a scan: the r10
        // max(batch_id) read was parquet-footer cheap on day one but
        // O(ledger files) after months of micro-batches, a slow leak.
        // The appends themselves stay retry-absorbent per admitCycle's
        // ordering contract (text before sigs, distinct() downstream).
        val spark = batch.sparkSession
        val part = new org.apache.hadoop.fs.Path(
          verdictsDir, s"batch_id=$id")
        // "already appended" = the COMMIT MARKER exists, not the bare
        // partition directory (r12): FileOutputCommitter moves task
        // files into the partition dir BEFORE job commit completes, so
        // a crash mid-commit leaves a partial directory — under the
        // r11 directory probe a restart would see it and silently skip
        // the rest of the batch forever. The marker is written strictly
        // AFTER the parquet append returns; a replay that finds the
        // directory without the marker deletes the partial partition
        // and redoes the batch (exactly-once per batch on the ledger;
        // the admitCycle store appends it redoes are absorbed by the
        // downstream distinct()s, the existing at-least-once contract).
        val fs = part.getFileSystem(spark.sessionState.newHadoopConf())
        val marker = new org.apache.hadoop.fs.Path(part, "_COMMITTED")
        // marker probe FIRST (review r16): it is the O(1) check —
        // isEmpty is a Spark job over the micro-batch's input, and
        // running it before the probe made every committed-batch
        // replay recompute its source just to skip itself. The live
        // batch is persisted across its two consumers (the isEmpty
        // action and admitCycle's reads).
        if (!fs.exists(marker)) {
          batch.persist()
          try {
            if (!batch.isEmpty) {
              if (fs.exists(part)) fs.delete(part, true)
              graft.jobs.Jobs.admitCycle(spark, batch.toDF(),
                sigStore, corpusDir, threshold, admit = true)
                .withColumn("batch_id", lit(id))
                .write.partitionBy("batch_id").mode("append")
                .parquet(verdictsDir)
              fs.create(marker, true).close()
            }
          } finally batch.unpersist()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** (doc_id, text, ingestCol) stream → collision ledger.
    *
    * @param horizonMs how long a signature stays in state past its
    *                  last sighting (event time); the dedup memory.
    */
  def collisionLedger(docs: DataFrame, ingestCol: String,
                      watermark: String = "1 hour",
                      horizonMs: Long = 3600L * 1000L): Dataset[Collision] = {
    val spark = docs.sparkSession
    import spark.implicits._

    val bands = Dedup.bandSigs(Dedup.minhashWideNarrow(docs))
      .select(col("band"), col("sig"), col("doc_id"),
        col(ingestCol).as("ts"))
      // NULL event time is undefined under watermark semantics and is
      // NOT filtered by the late-row machinery (NULL is never "late");
      // it would reach the state function and NPE in the timeout
      // arithmetic — and since the micro-batch replays deterministically
      // from the checkpoint, ONE such record would crash-loop the
      // ledger forever. Dropped here, the same fate the watermark
      // assigns to unusably-late rows. NULL doc_id likewise (review
      // r19): it passes the band/signature stages (they gate on text
      // only) and would NPE the primitive-Long BandRow encoder into
      // the same crash loop — an unidentifiable doc has no place in
      // an id-keyed ledger.
      .filter(col("ts").isNotNull && col("doc_id").isNotNull)
      .withWatermark("ts", watermark)
      .as[BandRow]

    bands
      .groupByKey(r => (r.band, r.sig))
      // state = (keeper, maxTsSeen). Carrying the max event time seen
      // (review r19): the timeout used to be set from the CURRENT
      // micro-batch's max ts alone, so one late-but-within-watermark
      // sighting REWOUND the eviction deadline and the signature
      // could be evicted before its documented horizon — a duplicate
      // arriving inside the promised window then started a fresh
      // self-keeper epoch and the cross-epoch pair was silently
      // absent. "Horizon past the last sighting" means the MAX event
      // time ever seen; the deadline never moves backward now.
      .flatMapGroupsWithState[(Long, Long), Collision](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, String), rows: Iterator[BandRow],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rs = rows.toArray
            val batchMin = rs.iterator.map(_.doc_id).min
            val batchMaxTs = rs.iterator.map(_.ts.getTime).max
            val prev = if (state.exists) Some(state.get) else None
            val keeper = prev.fold(batchMin)(p => math.min(p._1, batchMin))
            val maxTs = prev.fold(batchMaxTs)(p => math.max(p._2, batchMaxTs))
            state.update((keeper, maxTs))
            state.setTimeoutTimestamp(maxTs + horizonMs)
            // keeper reassignment (review r16): the displaced keeper's
            // earlier self-keeper row cannot be retracted in append
            // mode — emit a row re-pointing it, so the min-reduced
            // ledger still pairs it with the new keeper (a cross-batch
            // pair whose SMALLER id arrived later was otherwise lost:
            // both its rows were self-keeper rows)
            val reassigned = prev.map(_._1).filter(_ > keeper).iterator
              .map(old => Collision(key._1, key._2, old, keeper))
            reassigned ++
              rs.iterator.map(r => Collision(r.band, r.sig, r.doc_id, keeper))
          }
      }
  }

  /** The ledger's documented read: resolve every doc's keeper CHAIN
    * to its fixpoint, one row per (band, sig, doc_id) with the final
    * (batch-truth) keeper.
    *
    * Why a fixpoint and not `min(keeper)` per doc: see [[Collision]].
    * Every keeper in the ledger also appears as a doc_id (it was
    * emitted as its own keeper on arrival) and every displaced keeper
    * carries a re-point row to its successor, so chains terminate at
    * a self-keeper row. Keeper values only decrease along a chain and
    * the chain length is bounded by the number of keeper-changing
    * micro-batches inside the state horizon; with each round jumping
    * doc→keeper-of-keeper on the already-jumped map, convergence is
    * logarithmic in that (small) bound.
    */
  def resolveKeepers(ledger: DataFrame): DataFrame =
    resolveKeepersCounted(ledger)._1

  /** [[resolveKeepers]] plus the number of pointer-jump iterations
    * the fixpoint took — the observable the 64-jump `require` bound
    * is sized against. Measured (probes/keeper_chains_r18.log): a worst-case boilerplate ledger —
    * ONE mega-signature, strictly decreasing ids across B batches, so
    * every batch displaces the keeper and the chain is B long —
    * resolves within ⌈log2 B⌉ + 1 jumps (the +1 is the no-movement
    * confirming pass); measured 8 jumps at B = 129, 10 at 512, 11 at
    * 1025 against those bounds of 9/10/12. The
    * doc→keeper-of-keeper squaring makes 64 jumps cover chains of
    * ~2^63 keeper-changing batches — unreachable by any physical
    * stream — so tripping the bound can only mean ledger rows that
    * violate the monotone-refinement contract (e.g. a keeper cycle
    * from hand-edited rows), which is exactly when refusing beats
    * spinning.
    */
  def resolveKeepersCounted(ledger: DataFrame): (DataFrame, Int) = {
    import ledger.sparkSession.implicits._
    var m = ledger.groupBy("band", "sig", "doc_id")
      .agg(min("keeper").as("keeper"))
      // bound plan depth across iterations (the px42 CC idiom): each
      // jump would otherwise stack a self-join on the full lineage
      .localCheckpoint()
    var iter = 0
    var done = false
    while (!done) {
      if (iter >= 64) {
        // free the last checkpoint before refusing (review r18: every
        // throw path must release the blocks the loop owns)
        Dedup.unpersistCheckpoint(m)
        throw new IllegalArgumentException(
          "requirement failed: keeper chains failed to converge in " +
            "64 jumps — ledger rows violate the monotone-refinement " +
            "contract")
      }
      val prev = m
      // LEFT join (r18 advice fix): an inner join here silently
      // DROPPED any doc whose keeper value has no doc_id row — a
      // filtered or retention-trimmed ledger shrank the result
      // instead of failing. The ledger contract says every keeper
      // was emitted as its own doc (self-keeper row), so a miss is a
      // contract violation and raises loudly below.
      val jumped = m.alias("l")
        .join(m.alias("r"),
          $"l.band" === $"r.band" && $"l.sig" === $"r.sig" &&
            $"l.keeper" === $"r.doc_id", "left")
        .select($"l.band".as("band"), $"l.sig".as("sig"),
          $"l.doc_id".as("doc_id"),
          // r.keeper <= l.keeper by the monotone contract; least() is
          // a correctness backstop against a malformed ledger
          least($"l.keeper", coalesce($"r.keeper", $"l.keeper"))
            .as("keeper"),
          coalesce($"r.keeper" < $"l.keeper", lit(false)).as("moved"),
          $"r.doc_id".isNull.as("lost"))
        .localCheckpoint()
      // one action for both flags (the happy path stays one action
      // per jump, as before); the example row fetch runs only on the
      // error path
      val flags = jumped
        .agg(max($"moved").as("any_moved"), max($"lost").as("any_lost"))
        .head()
      if (!flags.isNullAt(1) && flags.getBoolean(1)) {
        val ex = jumped.filter($"lost")
          .select("band", "sig", "doc_id", "keeper").head()
        // release both live checkpoints before refusing (review r18:
        // a repeatedly-failing resolve in a long-lived streaming
        // session must not accumulate pinned ledger copies)
        Dedup.unpersistCheckpoint(prev)
        Dedup.unpersistCheckpoint(jumped)
        throw new IllegalStateException(
          s"resolveKeepers: ledger violates the keeper-is-also-a-doc " +
            s"contract — doc ${ex.get(2)} in band ${ex.get(0)} sig " +
            s"'${ex.get(1)}' points at keeper ${ex.get(3)} which has " +
            "no doc_id row (filtered or retention-trimmed ledger?)")
      }
      done = flags.isNullAt(0) || !flags.getBoolean(0)
      m = jumped.drop("moved", "lost")
      // the superseded iteration's localCheckpoint blocks otherwise
      // pin executor storage for the session, proportional to chain
      // length (r18 advice fix); the new checkpoint is already
      // materialized (localCheckpoint is eager), so this is safe
      Dedup.unpersistCheckpoint(prev)
      iter += 1
    }
    (m, iter)
  }
}
