package graft.jobs

import graft.SparkSpec
import graft.eval.{Eval, Qrels}
import graft.ir.Index
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, md5}

/** End-to-end job chain mirroring the reference's `test/test.sh`:
  * AnchorExtract → TrecRun (KEYVAL) → QueryTermCount →
  * TrecRunBaselines, all through the CLI-parity entry points, with
  * trec_eval-style evaluation on top.
  */
class JobsSpec extends SparkSpec {

  lazy val work: String = Files.createTempDirectory("jobs").toString
  lazy val warc: String = resource("test.warc.gz")
  lazy val topics: String = resource("wt2010-topics.queries-only")

  private def runLines(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    // read .gz parts too — silently skipping them would let
    // expect-empty assertions (e.g. the absent-docno dump) pass
    // vacuously if a sink change made a job's text output compressed
    Files.list(Paths.get(dir)).iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && !n.endsWith(".crc")
      }
      .flatMap { p =>
        if (p.getFileName.toString.endsWith(".gz")) {
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(
            new java.util.zip.GZIPInputStream(
              Files.newInputStream(p)), "UTF-8"))
          try Iterator.continually(in.readLine()).takeWhile(_ != null).toSeq
          finally in.close()
        } else Files.readAllLines(p).asScala.toSeq
      }
      .toSeq
  }

  test("test.sh chain: AnchorExtract -> TrecRun finds query 53") {
    Jobs.anchorExtract(spark, warc, s"$work/anchors")
    val anchors = spark.read.text(s"$work/anchors").collect()
      .map(_.getString(0))
    assert(anchors.exists(l =>
      l.startsWith("test2\t") && l.contains("discovery channel store")))

    Jobs.trecRun(spark, s"keyval:$work/anchors", s"$work/run", topics)
    val run = runLines(s"$work/run")
    val q53 = run.filter(_.startsWith("53 Q0 "))
    assert(q53.length == 1)
    assert(q53.head.split(" ")(2) == "test2")
    assert(q53.head.split(" ")(3) == "1")
  }

  test("test.sh chain: QueryTermCount -> TrecRunBaselines, 4 models") {
    Jobs.anchorExtract(spark, warc, s"$work/anchors2")
    Jobs.queryTermCount(spark, s"keyval:$work/anchors2",
      s"$work/aug.topics", topics)
    val aug = Files.readAllLines(Paths.get(s"$work/aug.topics"))
    assert(aug.get(0).startsWith("#MIREX-LENGTH:"))
    assert(aug.get(1).startsWith("#MIREX-NDOCS:"))

    Jobs.trecRunBaselines(spark, s"keyval:$work/anchors2",
      s"$work/baselines", s"$work/aug.topics")
    val run = runLines(s"$work/baselines")
    val models = run.map(_.split(" ")(0).split(":")(1)).distinct.sorted
    assert(models == Seq("BM25", "LMdi", "LMno", "LMs"))
    // conjunctive LMno for q53 finds only the anchor-complete doc
    assert(run.count(_.startsWith("53:LMno ")) == 1)
    assert(run.filter(_.startsWith("53:LMdi ")).nonEmpty)
  }

  test("feedback loop: GenerateFeedbackQueries -> RunQueryWeighted") {
    Jobs.anchorExtract(spark, warc, s"$work/anchors3")
    Jobs.generateFeedbackQueries(spark, s"keyval:$work/anchors3",
      s"$work/fb.topics", topics)
    val fb = runLines(s"$work/fb.topics")
    val q53 = fb.filter(_.startsWith("53\t"))
    assert(q53.length == 1)
    // RM3 keeps the original query terms with weight λ/qlen > 0
    assert(q53.head.contains("discovery:"))

    Jobs.runQueryWeighted(spark, s"keyval:$work/anchors3",
      s"$work/rm3run", s"$work/fb.topics")
    val run = runLines(s"$work/rm3run").filter(_.startsWith("53 Q0 "))
    assert(run.nonEmpty)
    assert(run.head.split(" ")(2) == "test2") // feedback keeps the true hit on top
  }

  test("feedback loop through the INDEX: topics -> feedback -> RunQueryIndexWeighted") {
    // the reference's actual multi-job cycle: GenerateFeedbackQueriesHBase
    // writes weighted topics, RunQueryHBase re-consumes them AGAINST THE
    // INDEX (RunQueryHBase.java:138-161) — corpus → index → feedback
    // topics → index-backed weighted rerun → ranked output
    Jobs.anchorExtract(spark, warc, s"$work/anchors4")
    Index.write(Jobs.loadDocs(spark, s"keyval:$work/anchors4"),
      s"$work/idx4")
    Jobs.generateFeedbackQueries(spark, s"keyval:$work/anchors4",
      s"$work/fb4.topics", topics)
    Jobs.runQueryIndexWeighted(spark, s"$work/idx4", s"$work/rm3idx",
      s"$work/fb4.topics")
    val run = runLines(s"$work/rm3idx").filter(_.startsWith("53 Q0 "))
    assert(run.nonEmpty)
    assert(run.head.split(" ")(2) == "test2",
      "index-backed weighted rerun must keep the true hit on top")
    // index path ≡ sequential-scan path on the same feedback topics
    Jobs.runQueryWeighted(spark, s"keyval:$work/anchors4",
      s"$work/rm3seq", s"$work/fb4.topics")
    assert(runLines(s"$work/rm3idx").sorted ==
      runLines(s"$work/rm3seq").sorted
        .map(_.replace("graft-rm3", "graft-rm3-idx")),
      "scoreFromIndex must reproduce the sequential-scan ranking byte-for-byte")
  }

  test("DumpIndex: s triple and dv term-vector match the corpus by hand") {
    // reference DumpIndexHBase: `s` prints documents/terms/tokens from
    // the #collstats row; `dv <docno>` prints one doc's FeatureVector
    // as `term count` lines with Double-formatted counts
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "cat dog cat")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$work/dumpdocs")
    Index.write(Jobs.loadDocs(spark, s"parquet:$work/dumpdocs"),
      s"$work/dumpidx")

    Jobs.dumpIndexStats(spark, s"$work/dumpidx", s"$work/dumpstats")
    // 3 docs; distinct terms {the,cat,sat,on,mat,dog} = 6; 12 tokens
    assert(runLines(s"$work/dumpstats") ==
      Seq("documents: 3", "terms: 6", "tokens: 12"))

    Jobs.dumpIndexDocVector(spark, s"$work/dumpidx", "1", s"$work/dumpdv")
    assert(runLines(s"$work/dumpdv") ==
      Seq("cat 1.0", "mat 1.0", "on 1.0", "sat 1.0", "the 2.0"))
    // absent docno dumps empty, not an error (reference NPEs here)
    Jobs.dumpIndexDocVector(spark, s"$work/dumpidx", "99", s"$work/dumpdv99")
    assert(runLines(s"$work/dumpdv99").isEmpty)

    // an EMPTY index reports zeros (sum() is NULL over no rows — the
    // stats job must coalesce, not NPE)
    Index.write(Jobs.loadDocs(spark, s"parquet:$work/dumpdocs")
      .filter(col("doc_id") < 0), s"$work/dumpidx0")
    Jobs.dumpIndexStats(spark, s"$work/dumpidx0", s"$work/dumpstats0")
    assert(runLines(s"$work/dumpstats0") ==
      Seq("documents: 0", "terms: 0", "tokens: 0"))
  }

  test("RunQueryKDESweep: 9 alphas per query, reference report format") {
    val trecDir = Files.createTempDirectory("trecsweep").toString
    val docsSgml = (1 to 6).map { i =>
      val ep = 1700000000L + i * 86400L
      val words = if (i <= 3) "discovery channel store extra" else "other words here"
      s"<DOC><DOCNO>D$i</DOCNO><EPOCH>$ep</EPOCH><TEXT>$words</TEXT></DOC>"
    }.mkString("\n")
    Files.writeString(Paths.get(trecDir, "c.trectext"), docsSgml)
    val qrelsDir = Files.createTempDirectory("qrels_kde").toString
    Files.writeString(Paths.get(qrelsDir, "qrels.txt"),
      "53 0 D1 1\n53 0 D2 1\n53 0 D9 1\n")
    Jobs.runQueryKdeSweep(spark, trecDir, s"$work/kdesweep", topics,
      qrelsDir)
    val rows = runLines(s"$work/kdesweep").map(_.split("\t"))
    val q53 = rows.filter(_(0).startsWith("53:"))
    assert(q53.length == 9, s"one line per alpha 0.1..0.9: ${q53.length}")
    assert(q53.map(_(0)).toSet ==
      (1 to 9).map(a => s"53:0.${a}").toSet)
    // map,p10,p20 triple per line; 2 of 3 relevant docs retrievable at
    // every alpha → p10 = 2/10, p20 = 2/20
    assert(q53.forall(_(1).split(",").length == 3))
    assert(q53.forall(_(1).split(",")(1) == "0.2"), q53.map(_.mkString("|")))
    assert(q53.forall(_(1).split(",")(2) == "0.1"))
  }

  test("RunQueryKDE: SGML epochs drive the rerank; converters round-trip") {
    val trecDir = Files.createTempDirectory("trec").toString
    val docsSgml = (1 to 6).map { i =>
      val ep = 1700000000L + i * 86400L
      val words = if (i <= 3) "discovery channel store extra" else "other words here"
      s"<DOC><DOCNO>D$i</DOCNO><EPOCH>$ep</EPOCH><TEXT>$words</TEXT></DOC>"
    }.mkString("\n")
    Files.writeString(Paths.get(trecDir, "c.trectext"), docsSgml)

    Jobs.runQueryKde(spark, trecDir, s"$work/kderun", topics)
    val run = runLines(s"$work/kderun").filter(_.startsWith("53 Q0 "))
    assert(run.length == 3) // the three docs containing the q53 terms
    assert(run.map(_.split(" ")(3)).sorted == Seq("1", "2", "3"))

    Jobs.trecToMallet(spark, trecDir, s"$work/mallet")
    val mallet = runLines(s"$work/mallet")
    assert(mallet.length == 6)
    assert(mallet.forall(_.split("\t").length == 3))

    Jobs.trecToParquet(spark, trecDir, s"$work/trecpq")
    assert(spark.read.parquet(s"$work/trecpq").count() == 6)
  }

  test("TrecRunBaselines, RunQueryKDE and RunQueryKDESweep release " +
    "every frame they cache") {
    val sc = spark.sparkContext
    // the fixtures of the chain and KDE tests above
    Jobs.anchorExtract(spark, warc, s"$work/anchors_rel")
    Jobs.queryTermCount(spark, s"keyval:$work/anchors_rel",
      s"$work/aug_rel.topics", topics)
    // one collection per KDE job: the same cached plan twice would be
    // one cache entry, and the first job's leak would hide the second's
    def trecDir(): String = {
      val dir = Files.createTempDirectory("trec_rel").toString
      Files.writeString(Paths.get(dir, "c.trectext"), (1 to 6).map { i =>
        val words = if (i <= 3) "discovery channel store extra" else "other words here"
        s"<DOC><DOCNO>D$i</DOCNO><EPOCH>${1700000000L + i * 86400L}</EPOCH>" +
          s"<TEXT>$words</TEXT></DOC>"
      }.mkString("\n"))
      dir
    }
    val qrelsDir = Files.createTempDirectory("qrels_rel").toString
    Files.writeString(Paths.get(qrelsDir, "qrels.txt"), "53 0 D1 1\n53 0 D2 1\n")
    val calls = Seq[(String, () => Unit)](
      "trecRunBaselines" -> (() => Jobs.trecRunBaselines(spark,
        s"keyval:$work/anchors_rel", s"$work/baselines_rel",
        s"$work/aug_rel.topics")),
      "runQueryKde" -> (() =>
        Jobs.runQueryKde(spark, trecDir(), s"$work/kde_rel", topics)),
      "runQueryKdeSweep" -> (() => Jobs.runQueryKdeSweep(spark, trecDir(),
        s"$work/kdesweep_rel", topics, qrelsDir)))
    val leaks = calls.flatMap { case (name, call) =>
      // only RDDs the call persists: the ContextCleaner may release RDDs
      // that earlier tests left persisted at any GC
      val before = sc.getPersistentRDDs.keySet
      call()
      val held = sc.getPersistentRDDs.keys.count(k => !before(k))
      if (held > 0) Some(s"$name holds $held") else None
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
    assert(runLines(s"$work/kde_rel").exists(_.startsWith("53 Q0 ")))
  }

  test("SequenceFile glue: Parquet -> seq -> Parquet round-trips; seq: spec loads") {
    import spark.implicits._
    val docs = Seq(("D1", "alpha beta"), ("D2", "gamma"), ("D3", ""))
    val pq = s"$work/seqsrc"
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(pq)

    // write the reference's SequenceFile<Text,Text> layout, then read
    // it back through BOTH glue paths
    Jobs.parquetToSeq(spark, pq, s"$work/seqout")
    Jobs.seqToParquet(spark, s"$work/seqout", s"$work/seqback")
    val back = spark.read.parquet(s"$work/seqback")
      .as[(String, String)].collect().toSeq.sorted
    assert(back == docs.sorted)

    // engine-written corpora carry int64 doc_ids (the testdata tables
    // do): the glue must cast, not ClassCastException mid-job
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/seqsrc64")
    Jobs.parquetToSeq(spark, s"$work/seqsrc64", s"$work/seqout64")
    Jobs.seqToParquet(spark, s"$work/seqout64", s"$work/seqback64")
    assert(spark.read.parquet(s"$work/seqback64")
      .as[(String, String)].collect().toSet ==
      Set(("1", "alpha"), ("2", "beta")))

    // the written files really are Hadoop SequenceFiles (magic header)
    import scala.jdk.CollectionConverters._
    val parts = Files.list(Paths.get(s"$work/seqout")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.nonEmpty)
    assert(parts.forall { p =>
      new String(Files.readAllBytes(p).take(3)) == "SEQ"
    })

    // and a legacy corpus is loadable in place via the seq: spec
    val loaded = Jobs.loadDocs(spark, s"seq:$work/seqout")
      .as[(String, String)].collect().toSeq.sorted
    assert(loaded == docs.sorted)
  }

  test("seqwarc: WritableWarcRecord SequenceFile round-trips; wire bytes match the Java contract") {
    import graft.sources.SeqWarc
    import spark.implicits._

    // Byte-level: a payload laid out exactly as WarcRecord.write()
    // emits it (writeUTF header quad, metadata count+pairs, content
    // length + raw bytes) must parse field-for-field.
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeUTF("text/html")                 // contentType
    out.writeUTF("uuid-123")                  // UUID
    out.writeUTF("2009-03-65T08:43:19-0800")  // dateString
    out.writeUTF("response")                  // recordType
    out.writeInt(2)
    out.writeUTF("WARC-TREC-ID"); out.writeUTF("clueweb09-en0000-00-00001")
    out.writeUTF("WARC-Target-URI"); out.writeUTF("http://example.com/")
    val body = "<html>héllo wörld</html>".getBytes("UTF-8")
    out.writeInt(body.length); out.write(body); out.flush()
    val rec = SeqWarc.parseValue(bos.toByteArray)
    assert(rec.doc_id == "clueweb09-en0000-00-00001") // WARC-TREC-ID wins
    assert(rec.record_type == "response")
    assert(rec.content_type == "text/html")
    assert(rec.uuid == "uuid-123")
    assert(rec.metadata("WARC-Target-URI") == "http://example.com/")
    assert(rec.text == "<html>héllo wörld</html>")

    // serialize is the same contract: parse ∘ serialize = identity
    assert(SeqWarc.parseValue(SeqWarc.serialize(rec)) == rec)

    // no WARC-TREC-ID → doc_id falls back to the header uuid. Built
    // from raw wire bytes: serialize always re-adds the key from
    // doc_id, so a serialize-then-parse round trip can never reach
    // the fallback branch — only a record a non-graft writer produced
    // without the key (the reference tolerates those) exercises it.
    val bos2 = new java.io.ByteArrayOutputStream()
    val out2 = new java.io.DataOutputStream(bos2)
    out2.writeUTF("text/html")
    out2.writeUTF("uuid-456")
    out2.writeUTF("2009-03-65T08:43:19-0800")
    out2.writeUTF("response")
    out2.writeInt(1)
    out2.writeUTF("WARC-Target-URI"); out2.writeUTF("http://example.com/")
    out2.writeInt(body.length); out2.write(body); out2.flush()
    assert(SeqWarc.parseValue(bos2.toByteArray).doc_id == "uuid-456")
    // and serialize DOES re-add the key from doc_id (the export
    // contract: reference tooling joins on WARC-TREC-ID)
    val noId = rec.copy(metadata = rec.metadata - "WARC-TREC-ID")
    assert(SeqWarc.parseValue(SeqWarc.serialize(noId))
      .metadata("WARC-TREC-ID") == rec.doc_id)

    // On-disk: write a corpus through the binary SequenceFile sink,
    // load it back in place via the seqwarc: spec.
    val docs = Seq(
      ("clueweb09-en0000-00-00001", "<html>alpha beta</html>"),
      ("clueweb09-en0000-00-00002", "<html>gamma</html>"),
      ("clueweb09-en0000-00-00003", ""))
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$work/swsrc")
    SeqWarc.write(spark.read.parquet(s"$work/swsrc"), s"$work/swout")

    // the files really are SequenceFiles (magic header)
    import scala.jdk.CollectionConverters._
    val parts = Files.list(Paths.get(s"$work/swout")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.nonEmpty)
    assert(parts.forall(p =>
      new String(Files.readAllBytes(p).take(3)) == "SEQ"))
    // header declares the reference's key class and the key bytes ARE
    // valid LongWritables (the value header stays BytesWritable — the
    // Lemur class can't be named without vendoring it; scaladoc'd)
    // (the VALUE bytes are raw WritableWarcRecord wire form, framed by
    // the container's record length — identical to a reference-written
    // file; only the header's value-class STRING differs, so a value
    // read through the header class is expected to refuse. The
    // loadDocs round-trip below reads them the header-blind way.)
    locally {
      val conf = spark.sparkContext.hadoopConfiguration
      val rdr = new org.apache.hadoop.io.SequenceFile.Reader(conf,
        org.apache.hadoop.io.SequenceFile.Reader.file(
          new org.apache.hadoop.fs.Path(parts.head.toString)))
      try {
        assert(rdr.getKeyClassName ==
          "org.apache.hadoop.io.LongWritable", rdr.getKeyClassName)
        val k = new org.apache.hadoop.io.LongWritable()
        assert(rdr.next(k), "first key readable with the header key class")
        assert(k.get() == 0L, s"first key ${k.get()}")
      } finally rdr.close()
    }

    val loaded = Jobs.loadDocs(spark, s"seqwarc:$work/swout")
      .as[(String, String)].collect().toSeq.sorted
    assert(loaded == docs.sorted)

    // full-fidelity read keeps every header field + the metadata map
    val full = SeqWarc.read(spark, s"$work/swout")
    assert(full.columns.toSet == Set("doc_id", "record_type",
      "content_type", "date", "uuid", "metadata", "text"))
    assert(full.where(col("record_type") === "response").count() == 3)
  }

  test("seqwarc: BLOCK- and RECORD-compressed SequenceFiles decode through the Hadoop reader") {
    import graft.sources.SeqWarc
    import org.apache.hadoop.io.{LongWritable, SequenceFile}
    import org.apache.hadoop.io.compress.{DefaultCodec, GzipCodec}
    import org.apache.hadoop.fs.Path
    import spark.implicits._

    // The reference writes its spam-filtered corpus BLOCK-compressed
    // (ClueWebSpamFilter.java:140-146, SequenceFileOutputFormat with
    // CompressionType.BLOCK); the read path claims compression comes
    // free via the Hadoop decoder — prove it for both compression
    // types, with the reference's LongWritable key on disk. The value
    // must serialize BARE (WritableWarcRecord.write emits its fields
    // directly) — BytesWritable would prepend its own 4-byte length,
    // which is not on the reference wire; RawValueWritable below
    // mirrors the real layout.
    val docs = Seq(
      ("clueweb09-en0000-00-00001", "<html>compressed alpha</html>"),
      ("clueweb09-en0000-00-00002", "<html>compressed beta</html>"),
      ("clueweb09-en0000-00-00003", "x" * 10000)) // compressible body
    val conf = spark.sparkContext.hadoopConfiguration
    def writeCompressed(dir: String, ct: SequenceFile.CompressionType,
                        codec: org.apache.hadoop.io.compress.CompressionCodec): Unit = {
      val w = SequenceFile.createWriter(conf,
        SequenceFile.Writer.file(new Path(s"$dir/part-00000")),
        SequenceFile.Writer.keyClass(classOf[LongWritable]),
        SequenceFile.Writer.valueClass(classOf[RawValueWritable]),
        SequenceFile.Writer.compression(ct, codec))
      try docs.zipWithIndex.foreach { case ((id, text), i) =>
        val rec = SeqWarc.Rec(id, "response", "text/html", "", "",
          Map("WARC-TREC-ID" -> id), text)
        val v = new RawValueWritable
        v.bytes = SeqWarc.serialize(rec)
        w.append(new LongWritable(i.toLong), v)
      } finally w.close()
    }
    for ((sub, ct, codec) <- Seq(
        ("swblock", SequenceFile.CompressionType.BLOCK, new DefaultCodec),
        ("swrecord", SequenceFile.CompressionType.RECORD, new GzipCodec))) {
      writeCompressed(s"$work/$sub", ct, codec)
      val back = SeqWarc.read(spark, s"$work/$sub")
        .select("doc_id", "text").as[(String, String)]
        .collect().toSeq.sorted
      assert(back == docs.sorted, s"compressed round-trip failed for $sub")
    }

    // and the sink's own compress flag: BLOCK-compressed output (the
    // reference's shape) whose header names the codec, round-tripped
    SeqWarc.write(docs.toDF("doc_id", "text"), s"$work/swcout",
      compress = true)
    import scala.jdk.CollectionConverters._
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/swcout"))
      .iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val head = new String(
      java.nio.file.Files.readAllBytes(part).take(200).toArray, "ISO-8859-1")
    assert(head.startsWith("SEQ"))
    assert(head.contains("DefaultCodec"),
      "BLOCK-compressed header must name the codec")
    val back2 = SeqWarc.read(spark, s"$work/swcout")
      .select("doc_id", "text").as[(String, String)]
      .collect().toSeq.sorted
    assert(back2 == docs.sorted)
  }

  test("DedupCorpus drops exact duplicates, keeps min-id survivor") {
    val kvDir = Files.createTempDirectory("kv").toString
    Files.writeString(Paths.get(kvDir, "docs.tsv"),
      "d1\thttp://a\tsame text here\n" +
        "d2\thttp://b\tsame text here\n" +
        "d3\thttp://c\tunique text\n")
    Jobs.dedupCorpus(spark, s"keyval:$kvDir", s"$work/deduped")
    val kept = spark.read.parquet(s"$work/deduped")
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(kept.toSeq == Seq("d1", "d3"))
  }

  test("EpochShards: lossless shard layout, deterministic per seed") {
    import spark.implicits._
    (0L until 40L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/epochin")
    Jobs.epochShards(spark, s"parquet:$work/epochin", s"$work/epoch1", 1, 4)
    Jobs.epochShards(spark, s"parquet:$work/epochin", s"$work/epoch1b", 1, 4)
    Jobs.epochShards(spark, s"parquet:$work/epochin", s"$work/epoch2", 2, 4)
    def byShard(p: String) = spark.read.parquet(p)
      .select("shard", "doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val (e1, e1b, e2) = (byShard(s"$work/epoch1"),
      byShard(s"$work/epoch1b"), byShard(s"$work/epoch2"))
    assert(e1.values.map(_.size).sum == 40 && e1.keySet.subsetOf(
      Set(0L, 1L, 2L, 3L)))
    assert(e1 == e1b)  // same seed -> identical layout
    assert(e1 != e2)   // new epoch -> new permutation
  }

  test("IncrementalDedup admit cycle: round 2 sees round 1's novel docs") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val textX = "cat dog emu fox gnu hen ibis jay kiwi lark moth newt" +
      " owl pig quail rat swan toad vole wolf"
    val textB = "red blue gree yellow purple orange black white brown" +
      " pink cyan teal navy gold silver maroon olive coral beige plum"
    val corpus = Seq((1L, textX)).toDF("doc_id", "text")
    corpus.write.mode("overwrite").parquet(s"$work/incorpus")
    Dedup.minhashWide(corpus).write.mode("overwrite")
      .parquet(s"$work/insigs")

    // round 1: one dup of X (verbatim — band match guaranteed; a
    // 0.7-jaccard variant can legitimately miss all 4 LSH bands),
    // one novel doc; admit the novel one
    Seq((10L, textX), (11L, textB))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/inbatch1")
    Jobs.incrementalDedup(spark, s"$work/insigs",
      s"parquet:$work/incorpus", s"parquet:$work/inbatch1",
      s"$work/inv1", admit = true)
    val v1 = spark.read.parquet(s"$work/inv1")
      .select("doc_id", "dup_of").as[(Long, Option[Long])]
      .collect().toMap
    assert(v1(10L).contains(1L) && v1(11L).isEmpty)

    // round 2: a near-dup of round 1's ADMITTED novel doc — only
    // detectable if admit appended both its signatures and its text
    Seq((20L, textB)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/inbatch2")
    Jobs.incrementalDedup(spark, s"$work/insigs",
      s"parquet:$work/incorpus", s"parquet:$work/inbatch2",
      s"$work/inv2", admit = false)
    val v2 = spark.read.parquet(s"$work/inv2")
      .select("doc_id", "dup_of").as[(Long, Option[Long])]
      .collect().toMap
    assert(v2(20L).contains(11L),
      s"round-2 dup not traced to the admitted doc: $v2")
    val report = spark.read.text(s"$work/inv1_report").as[String]
      .collect().head
    assert(report.contains("batch=2 dup=1 novel=1 admitted=1"), report)
  }

  test("PrepareTrainingData: gate, dedup, scrub, chunk, shard end-to-end") {
    import spark.implicits._
    // 8 distinct words of mean length 5.25, repeated to 40 words:
    // passes every Gopher bound; its 16-token windows at stride 8 all
    // repeat (period 8), so example-level dedup must collapse them
    val wordsA = "alpha bravo charlie delta echo foxtrot golf hotel"
    val textA = Seq.fill(5)(wordsA).mkString(" ")
    val textB = ("india juliet kilos lima mikes novem oscar papas " * 4).trim +
      " the quick brown fox jumps klmno pqrst uvwxy zabcd efghi"
    Seq(
      (1L, textA),            // kept
      (2L, textA),            // exact dup of 1 -> dropped
      (3L, textB),            // contaminated span -> scrubbed, kept
      (4L, "tiny doc"))       // gopher-dropped
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/prepin")
    Seq((100L, "the quick brown fox jumps over it"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/prepbench")

    Jobs.prepareTrainingData(spark, s"parquet:$work/prepin",
      s"$work/prepout", s"parquet:$work/prepbench",
      seed = 1, nShards = 2, win = 16, stride = 8)

    val report = spark.read.text(s"$work/prepout_report")
      .as[String].collect().head
    assert(report.contains("input=4"), report)
    assert(report.contains("gopher=3"), report)
    assert(report.contains("exact_dedup=2"), report)
    assert(report.contains("near_dedup=2"), report)
    assert(report.contains("decontam_touched=1"), report)

    val ex = spark.read.parquet(s"$work/prepout")
    // example-level dedup: no fingerprint appears twice
    assert(ex.groupBy("wh").count().filter(col("count") > 1).count() == 0)
    // the benchmark phrase is gone from every example
    assert(ex.filter(col("text").contains("quick brown fox")).count() == 0)
    // but doc 3's own content survives the scrub
    assert(ex.filter(col("text").contains("india juliet")).count() > 0)
    // shard layout present and within range
    val dirs = new java.io.File(s"$work/prepout").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.subsetOf(Set("shard=0", "shard=1")))
  }

  test("PrepareTrainingData: signature-store hand-off closes the admit loop") {
    import spark.implicits._
    val w = Files.createTempDirectory("prepstore").toString
    val wordsA = "alpha bravo charlie delta echo foxtrot golf hotel"
    val textA = Seq.fill(5)(wordsA).mkString(" ")
    val wordsC = "quebec romeo sierra tango uncle victor whisky xray"
    val textC = Seq.fill(5)(wordsC).mkString(" ")
    Seq((1L, textA), (4L, "tiny doc")).toDF("doc_id", "text")
      .write.parquet(s"$w/in1")
    Seq((100L, "benchmark text that matches nothing here at all"))
      .toDF("doc_id", "text").write.parquet(s"$w/bench")

    // run 1 BOOTSTRAPS the store: gopher survivor 1 admitted
    Jobs.prepareTrainingData(spark, s"parquet:$w/in1", s"$w/out1",
      s"parquet:$w/bench", seed = 1, nShards = 2, win = 16, stride = 8,
      sigStore = s"$w/sigs", storeCorpus = s"$w/storecorpus")
    assert(spark.read.parquet(s"$w/sigs").select("doc_id")
      .as[Long].collect().toSet == Set(1L))
    assert(spark.read.parquet(s"$w/storecorpus").select("doc_id")
      .as[Long].collect().toSet == Set(1L))

    // a later admit batch dedups against the PREP-emitted store: the
    // dup traces to the prep-surviving doc without re-processing prep
    val v = Jobs.admitCycle(spark, Seq((50L, textA)).toDF("doc_id", "text"),
      s"$w/sigs", s"$w/storecorpus", 0.5, admit = false)
      .select("doc_id", "dup_of").as[(Long, Option[Long])]
      .collect().toMap
    assert(v(50L).contains(1L), s"store dup not traced: $v")

    // run 2 PARTICIPATES: doc 7 (= run 1's textA under a new id) drops
    // at the store_dedup stage; novel doc 8 survives and is admitted
    Seq((7L, textA), (8L, textC)).toDF("doc_id", "text")
      .write.parquet(s"$w/in2")
    Jobs.prepareTrainingData(spark, s"parquet:$w/in2", s"$w/out2",
      s"parquet:$w/bench", seed = 1, nShards = 2, win = 16, stride = 8,
      sigStore = s"$w/sigs", storeCorpus = s"$w/storecorpus")
    val report2 = spark.read.text(s"$w/out2_report").as[String]
      .collect().head
    assert(report2.contains("near_dedup=2 store_dedup=1"), report2)
    assert(spark.read.parquet(s"$w/sigs").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 8L))
    // run 2's examples come from the novel doc only
    val ex2 = spark.read.parquet(s"$w/out2")
    assert(ex2.count() > 0 &&
      ex2.filter(col("text").contains("alpha")).count() == 0)
  }

  test("TemperatureMix: selection parquet + capped-language report") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, when}
    val w = Files.createTempDirectory("tempmix").toString
    spark.range(100).select(
        when(col("id") < 97, "en").otherwise("xx").as("lang"),
        col("id").as("doc_id"), lit("body text").as("text"))
      .write.parquet(s"$w/in")
    Jobs.temperatureMix(spark, s"parquet:$w/in", s"$w/mix")
    val sel = spark.read.parquet(s"$w/mix")
    val rep = spark.read.parquet(s"$w/mix_report")
      .select("lang", "n_docs", "quota", "n_sel", "capped")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // report counts == materialized selection; the 3-doc minority is
    // capped (upweighted past its size) and fully kept, never repeated
    val got = sel.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    rep.values.foreach { case (l, _, _, nSel, _) =>
      assert(got.getOrElse(l, 0L) == nSel, s"$l: $nSel vs ${got.get(l)}")
    }
    assert(rep("xx")._5 && rep("xx")._4 == 3L && !rep("en")._5)
    // determinism: a rerun materializes the identical mix
    Jobs.temperatureMix(spark, s"parquet:$w/in", s"$w/mix2")
    assert(spark.read.parquet(s"$w/mix2").select("doc_id").as[Long]
      .collect().sorted.sameElements(
        sel.select("doc_id").as[Long].collect().sorted))
  }

  test("RepeatMix + LeakageSplit jobs: plan accounting, no group straddles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, lit, when}
    val w = Files.createTempDirectory("repmix").toString
    spark.range(100).select(
        when(col("id") < 97, "en").otherwise("xx").as("lang"),
        col("id").as("doc_id"), lit("body text").as("text"))
      .write.parquet(s"$w/in")
    // targetDiv = 1 (budget = the whole corpus) so the 3-doc
    // minority's quota clears 4x its size and the epoch cap binds
    Jobs.repeatMix(spark, s"parquet:$w/in", s"$w/mix", targetDiv = 1)
    val mix = spark.read.parquet(s"$w/mix")
    val plan = spark.read.parquet(s"$w/mix_plan")
      .select("lang", "allocated", "capped")
      .as[(String, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    // the 3-doc minority is upweighted past 4x its size: cap binds,
    // every doc repeated exactly 4 times in the materialized mix
    assert(plan("xx")._3 && plan("xx")._2 == 12L)
    val xx = mix.filter($"lang" === "xx").select("rep").as[Long].collect()
    assert(xx.length == 3 && xx.forall(_ == 4L))
    val got = mix.groupBy("lang").agg(expr("sum(rep)"))
      .as[(String, Long)].collect().toMap
    plan.values.foreach { case (l, alloc, _) =>
      assert(got.getOrElse(l, 0L) == alloc, s"$l: ${got.get(l)} vs $alloc") }

    // split over the tiny real corpus: cluster-coherent folds
    Jobs.leakageSplit(spark, s"parquet:$sfTiny/documents.parquet",
      s"$w/split")
    val sp = spark.read.parquet(s"$w/split")
    assert(sp.columns.toSet ==
      Set("doc_id", "cluster", "fold", "split"))
    assert(sp.groupBy("cluster")
      .agg(expr("count(distinct split)").as("ns"))
      .filter($"ns" > 1).isEmpty, "a dup cluster straddles the split")
  }

  test("admitCycle: sub-shingle docs are flagged unsigned, never admitted") {
    import spark.implicits._
    val w = Files.createTempDirectory("subshingle").toString
    val textX = "cat dog emu fox gnu hen ibis jay kiwi lark moth newt" +
      " owl pig quail rat swan toad vole wolf"
    val corpus = Seq((1L, textX)).toDF("doc_id", "text")
    corpus.write.parquet(s"$w/corpus")
    graft.pipeline.Dedup.minhashWide(corpus).write.parquet(s"$w/sigs")
    def round(id: Long): Map[Long, (Option[Long], Boolean)] =
      Jobs.admitCycle(spark, Seq((id, "hi there")).toDF("doc_id", "text"),
        s"$w/sigs", s"$w/corpus", 0.5, admit = true)
        .select("doc_id", "dup_of", "signed")
        .as[(Long, Option[Long], Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    // a 2-token doc is below the 3-shingle resolution: no signature,
    // so the cycle cannot attest novelty — flagged, NOT admitted
    val v1 = round(30L)
    assert(v1(30L) == (None, false), v1.toString)
    assert(spark.read.parquet(s"$w/sigs").count() == 1)
    assert(spark.read.parquet(s"$w/corpus").count() == 1,
      "unsigned doc must not be appended to the corpus")
    // recurrence of the same tiny doc: still refused — the r10 code
    // re-appended a duplicate (doc_id, text) row on EVERY sighting
    val v2 = round(31L)
    assert(v2(31L) == (None, false))
    assert(spark.read.parquet(s"$w/corpus").count() == 1)
  }

  test("DecontaminateCorpus: benchmark span scrubbed from text, report counts") {
    import spark.implicits._
    Seq((100L, "the quick brown fox jumps over lazy dogs"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/bench")
    Seq(
      (1L, "intro words the quick brown fox jumps and more tail"),
      (2L, "completely clean document text here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/decin")
    Jobs.decontaminateCorpus(spark, s"parquet:$work/decin",
      s"$work/decout", s"parquet:$work/bench")
    val out = spark.read.parquet(s"$work/decout").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // "the quick brown fox jumps" is a benchmark 5-gram: excised
    assert(out(1L) == "intro words and more tail")
    assert(out(2L) == "completely clean document text here")
    assert(runLines(s"$work/decout_report") ==
      Seq("input=2 touched=1 tokens_removed=5"))

    // drop mode: the contaminated doc goes entirely, original text of
    // the survivors untouched (no re-tokenized stitch)
    Jobs.decontaminateCorpus(spark, s"parquet:$work/decin",
      s"$work/decdrop", s"parquet:$work/bench", mode = "drop")
    val dropped = spark.read.parquet(s"$work/decdrop").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dropped.keySet == Set(2L))
    assert(dropped(2L) == "completely clean document text here")
    assert(runLines(s"$work/decdrop_report") ==
      Seq("input=2 dropped=1 kept=1"))
  }

  test("DecontaminateCorpus: an unknown mode is refused, nothing written") {
    import spark.implicits._
    val w = Files.createTempDirectory("decmode").toString
    Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
      .write.parquet(s"$w/bench")
    Seq((1L, "the quick brown fox jumps over")).toDF("doc_id", "text")
      .write.parquet(s"$w/in")
    val e = intercept[IllegalArgumentException] {
      Jobs.decontaminateCorpus(spark, s"parquet:$w/in", s"$w/out",
        s"parquet:$w/bench", mode = "dorp")
    }
    assert(e.getMessage.contains("dorp"), e.getMessage)
    assert(!new java.io.File(s"$w/out").exists())
  }

  test("TokenizeAndPack: lossless ids, bounded sequences, deterministic shards") {
    import spark.implicits._
    val w = Files.createTempDirectory("tokpack").toString
    val texts = Seq(
      (1L, "the cat sat on the mat the cat ran off"),
      (2L, "a cat and a rat sat on a mat"),
      (3L, "then the bat sat on that very mat"))
    texts.toDF("doc_id", "text").write.parquet(s"$w/in")
    Jobs.tokenizeAndPack(spark, s"parquet:$w/in", s"$w/out",
      kMerges = 6, seqLen = 8, seed = 3, nShards = 2)

    val voc = spark.read.parquet(s"$w/out_vocab")
      .select("sym", "id").as[(String, Long)].collect().toMap
    val inv = voc.map(_.swap)
    val ex = spark.read.parquet(s"$w/out")
      .select("example_id", "ids").as[(String, Seq[Long])].collect()
    // every sequence bounded by seqLen; only a doc's LAST window short
    ex.foreach { case (_, ids) => assert(ids.nonEmpty && ids.size <= 8) }
    // lossless: decoding every doc's concatenated windows reproduces
    // the doc's words (BPE merges partition each word; 0x1F-free join)
    val merges = graft.pipeline.Bpe.trainLocal(
      texts.toDF("doc_id", "text"), 6)
    val byDoc = ex.groupBy(_._1.split("_")(0).toLong).view
      .mapValues(_.sortBy(_._1.split("_")(1).toInt).flatMap(_._2)).toMap
    for ((id, text) <- texts) {
      val decoded = byDoc(id).map(inv).mkString("")
      assert(decoded == text.split(" ").mkString(""),
        s"doc $id: $decoded")
    }
    assert(merges.nonEmpty) // the trainer actually learned merges
    // shard layout + rerun determinism
    val dirs = new java.io.File(s"$w/out").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.subsetOf(Set("shard=0", "shard=1")))
    Jobs.tokenizeAndPack(spark, s"parquet:$w/in", s"$w/out2",
      kMerges = 6, seqLen = 8, seed = 3, nShards = 2)
    val ex2 = spark.read.parquet(s"$w/out2")
      .select("example_id", "ids").as[(String, Seq[Long])].collect()
    assert(ex.sortBy(_._1).sameElements(ex2.sortBy(_._1)))
  }

  test("CompactStore: layout-only — verdicts identical, file count shrinks") {
    import spark.implicits._
    val w = Files.createTempDirectory("compact").toString
    val t = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "solar wind over quiet hills brings dawn mist rain light",
      3L -> "nine green bottles stand upon the old stone wall today",
      4L -> "quick brown foxes jump over many lazy sleeping dogs here")
    Seq((1L, t(1L))).toDF("doc_id", "text").write.parquet(s"$w/corpus")
    graft.pipeline.Dedup.minhashWide(Seq((1L, t(1L)))
      .toDF("doc_id", "text")).write.parquet(s"$w/sigs")
    // three admit batches append small files to both stores
    for (i <- 2L to 4L)
      Jobs.admitCycle(spark, Seq((i, t(i))).toDF("doc_id", "text"),
        s"$w/sigs", s"$w/corpus", 0.5, admit = true).count()
    def parts(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.startsWith("part-"))
    val (cb, sb) = (parts(s"$w/corpus"), parts(s"$w/sigs"))
    assert(cb >= 4 && sb >= 4, s"stores should have piled up files: $cb/$sb")
    val probe = Seq((100L, t(2L)),
      (101L, "totally novel words never seen in any store row before now"))
      .toDF("doc_id", "text")
    def verdict() = Jobs.admitCycle(spark, probe, s"$w/sigs",
      s"$w/corpus", 0.5, admit = false).select("doc_id", "dup_of")
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    val before = verdict()
    assert(before == Seq((100L, Some(2L)), (101L, None)), before.toString)
    Jobs.compactStore(spark, s"$w/corpus")
    Jobs.compactStore(spark, s"$w/sigs")
    assert(parts(s"$w/corpus") < cb && parts(s"$w/sigs") < sb,
      "compaction must reduce the file count")
    assert(verdict() == before, "compaction changed a verdict")
  }

  test("CompactStore: crash between the two renames recovers on re-entry") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactcrash").toString
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    rows.toDF("doc_id", "text").write.parquet(s"$w/store")
    // simulate the crash window: the store was renamed aside but the
    // compacted tmp never swapped in — on restart the data lives ONLY
    // at store_compact_old
    val f = new java.io.File(s"$w/store")
    assert(f.renameTo(new java.io.File(s"$w/store_compact_old")))
    Jobs.compactStore(spark, s"$w/store")
    // recovery restored the store, re-ran the compaction, cleaned up
    assert(spark.read.parquet(s"$w/store")
      .as[(Long, String)].collect().sortBy(_._1).toSeq == rows)
    assert(!new java.io.File(s"$w/store_compact_old").exists())
    assert(!new java.io.File(s"$w/store_compact_tmp").exists())
  }

  test("CompactStore: concurrent append detected — store restored, rows kept") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactrace").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$w/store")
    // a concurrent admitCycle append lands INSIDE the compaction
    // window (after the compacted copy was written, before the swap):
    // with retries disabled the guard must abort loudly and leave
    // every row — the appended one included — in the store
    val e = intercept[IllegalStateException] {
      Jobs.compactStore(spark, s"$w/store", beforeSwap = () =>
        Seq((3L, "c")).toDF("doc_id", "text")
          .write.mode("append").parquet(s"$w/store"),
        appendRetries = 0)
    }
    assert(e.getMessage.contains("concurrent append"), e.getMessage)
    spark.catalog.refreshByPath(s"$w/store")
    assert(spark.read.parquet(s"$w/store")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!new java.io.File(s"$w/store_compact_old").exists())
    assert(!new java.io.File(s"$w/store_compact_tmp").exists())
    // the stopped-writer re-run then compacts cleanly
    Jobs.compactStore(spark, s"$w/store")
    assert(spark.read.parquet(s"$w/store").count() == 3)
  }

  test("CompactStore: a single in-flight append is absorbed by the " +
    "retry — compaction completes with the append included (r15)") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactretry").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$w/store")
    // the check-then-append window: ONE append passed the lease check
    // before the lease existed and lands mid-copy; the next attempt's
    // fresh snapshot includes it, so the compaction SUCCEEDS and no
    // operator re-run is needed
    var fired = false
    Jobs.compactStore(spark, s"$w/store", beforeSwap = () =>
      if (!fired) {
        fired = true
        Seq((3L, "c")).toDF("doc_id", "text")
          .write.mode("append").parquet(s"$w/store")
      })
    spark.catalog.refreshByPath(s"$w/store")
    assert(spark.read.parquet(s"$w/store")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!new java.io.File(s"$w/store_compact_old").exists())
    assert(!new java.io.File(s"$w/store_compact_tmp").exists())
    assert(!new java.io.File(s"$w/store_compact_lease").exists())
  }

  test("CompactStore: a writer appending past the lease exhausts the " +
    "retries into the loud abort, every appended row kept (r15)") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactexhaust").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$w/store")
    var k = 2L
    val e = intercept[IllegalStateException] {
      Jobs.compactStore(spark, s"$w/store", beforeSwap = () => {
        k += 1
        Seq((k, "x")).toDF("doc_id", "text")
          .write.mode("append").parquet(s"$w/store")
      }, appendRetries = 1)
    }
    assert(e.getMessage.contains("after 1 retries"), e.getMessage)
    spark.catalog.refreshByPath(s"$w/store")
    // 2 originals + 2 appends (first attempt + the one retry)
    assert(spark.read.parquet(s"$w/store")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "x"), (4L, "x")))
    assert(!new java.io.File(s"$w/store_compact_old").exists())
    assert(!new java.io.File(s"$w/store_compact_tmp").exists())
    // append-safe abort: the lease is released
    assert(!new java.io.File(s"$w/store_compact_lease").exists())
  }

  test("compaction lease: an admit append mid-compaction is refused " +
    "BEFORE writing; the lease lifecycle holds") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactlease").toString
    val wordsA = "alpha bravo charlie delta echo foxtrot golf hotel"
    val textA = Seq.fill(5)(wordsA).mkString(" ")
    val textB = Seq.fill(5)(
      "india juliet kilo lima mike november oscar papa").mkString(" ")
    val corpus = Seq((1L, textA)).toDF("doc_id", "text")
    corpus.write.parquet(s"$w/corpus")
    graft.pipeline.Dedup.minhashWide(corpus).write.parquet(s"$w/sigs")
    // a compaction "in flight": the lease exists on the corpus dir
    new java.io.File(s"$w/corpus_compact_lease").createNewFile()
    val e = intercept[IllegalStateException] {
      Jobs.admitCycle(spark, Seq((2L, textB)).toDF("doc_id", "text"),
        s"$w/sigs", s"$w/corpus", 0.5, admit = true)
    }
    assert(e.getMessage.contains("admit append refused"), e.getMessage)
    // refused BEFORE any write: both stores untouched
    assert(spark.read.parquet(s"$w/corpus").count() == 1)
    assert(spark.read.parquet(s"$w/sigs").select("doc_id")
      .as[Long].collect().toSet == Set(1L))
    // lease released -> the same admit goes through
    new java.io.File(s"$w/corpus_compact_lease").delete()
    Jobs.admitCycle(spark, Seq((2L, textB)).toDF("doc_id", "text"),
      s"$w/sigs", s"$w/corpus", 0.5, admit = true)
    assert(spark.read.parquet(s"$w/corpus").count() == 2)
    // a second COMPACTOR is refused by the same lease...
    new java.io.File(s"$w/corpus_compact_lease").createNewFile()
    val e2 = intercept[IllegalStateException] {
      Jobs.compactStore(spark, s"$w/corpus")
    }
    assert(e2.getMessage.contains("compaction lease exists"), e2.getMessage)
    new java.io.File(s"$w/corpus_compact_lease").delete()
    // ...and a successful compaction acquires and RELEASES it
    Jobs.compactStore(spark, s"$w/corpus")
    assert(!new java.io.File(s"$w/corpus_compact_lease").exists(),
      "successful compaction must release its lease")
    assert(spark.read.parquet(s"$w/corpus").count() == 2)
  }

  test("compaction lease: the crashed-run flow — lease blocks recovery " +
    "until cleared, then recovery self-heals under a fresh lease") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactcrashlease").toString
    val rows = Seq((1L, "a"), (2L, "b"))
    rows.toDF("doc_id", "text").write.parquet(s"$w/store")
    // the REAL crash state: the dead compactor's lease is still held
    // AND the store sits renamed aside (crashed between swap-aside and
    // swap-in). A fresh compactor must NOT auto-recover — to it, a
    // live mid-window compaction looks identical — it refuses on the
    // lease BEFORE touching anything.
    new java.io.File(s"$w/store_compact_lease").createNewFile()
    assert(new java.io.File(s"$w/store")
      .renameTo(new java.io.File(s"$w/store_compact_old")))
    val e = intercept[IllegalStateException] {
      Jobs.compactStore(spark, s"$w/store")
    }
    assert(e.getMessage.contains("compaction lease exists"), e.getMessage)
    assert(new java.io.File(s"$w/store_compact_old").exists() &&
      !new java.io.File(s"$w/store").exists(),
      "lease refusal must not have touched the crash state")
    // the operator verifies no compactor is live, deletes the lease,
    // re-runs: recovery restores + compacts under a fresh lease
    new java.io.File(s"$w/store_compact_lease").delete()
    Jobs.compactStore(spark, s"$w/store")
    assert(spark.read.parquet(s"$w/store")
      .as[(Long, String)].collect().sortBy(_._1).toSeq == rows)
    assert(!new java.io.File(s"$w/store_compact_old").exists())
    assert(!new java.io.File(s"$w/store_compact_lease").exists())
  }

  test("compaction lease: trailing-slash store paths see the SAME lease") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactslash").toString
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$w/store")
    // the appender configured with a trailing slash must check the
    // sibling lease the compactor creates, not a file inside the dir
    new java.io.File(s"$w/store_compact_lease").createNewFile()
    val e = intercept[IllegalStateException] {
      Jobs.requireNoCompactLease(spark, s"$w/store///", "corpus")
    }
    assert(e.getMessage.contains("admit append refused"), e.getMessage)
  }

  test("CompactStore: a second compactor's _compact_old mid-window is " +
    "refused loudly, never nested") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactrace2").toString
    val rows = Seq((1L, "a"), (2L, "b"))
    rows.toDF("doc_id", "text").write.parquet(s"$w/store")
    // a SECOND compactor racing past the entry checks creates
    // _compact_old in the swap-aside window: a bare rename(p, old)
    // would SUCCEED and nest the live store inside it (Hadoop rename
    // semantics), after which the restore logic misreads the layout —
    // the guarded swap must refuse with the store untouched at p
    val e = intercept[IllegalStateException] {
      Jobs.compactStore(spark, s"$w/store", beforeSwap = () =>
        Seq((9L, "other")).toDF("doc_id", "text")
          .write.parquet(s"$w/store_compact_old"))
    }
    assert(e.getMessage.contains("second compactor"), e.getMessage)
    spark.catalog.refreshByPath(s"$w/store")
    assert(spark.read.parquet(s"$w/store")
      .as[(Long, String)].collect().sortBy(_._1).toSeq == rows)
    // never nested: the racing old survives as written, tmp discarded
    assert(spark.read.parquet(s"$w/store_compact_old").count() == 1)
    assert(!new java.io.File(s"$w/store_compact_tmp").exists())
  }

  test("CompactStore: crash after the swap cleans the stale copy; " +
    "an UNEXPLAINED leftover is refused, never deleted") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactstale").toString
    val rows = Seq((1L, "a"), (2L, "b"))
    rows.toDF("doc_id", "text").write.parquet(s"$w/store")
    // crash-after-swap leftover: live store + stale _compact_old +
    // the _compact_done marker proving the swap completed
    Seq((9L, "stale")).toDF("doc_id", "text")
      .write.parquet(s"$w/store_compact_old")
    new java.io.File(s"$w/store_compact_done").createNewFile()
    Jobs.compactStore(spark, s"$w/store")
    assert(spark.read.parquet(s"$w/store")
      .as[(Long, String)].collect().sortBy(_._1).toSeq == rows)
    assert(!new java.io.File(s"$w/store_compact_old").exists())
    // the same leftover WITHOUT the done marker is ambiguous (a
    // mid-swap append collision): refuse, delete nothing
    Seq((9L, "orig")).toDF("doc_id", "text")
      .write.parquet(s"$w/store_compact_old")
    val e = intercept[IllegalArgumentException] {
      Jobs.compactStore(spark, s"$w/store")
    }
    assert(e.getMessage.contains("do NOT blindly merge"), e.getMessage)
    assert(new java.io.File(s"$w/store_compact_old").exists())
    assert(spark.read.parquet(s"$w/store").count() == 2)
  }

  test("CompactStore: oversized files are re-split (repartition fallback)") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactsplit").toString
    // one file holding every row; a tiny target must SPLIT it — the
    // former coalesce-only path was a silent no-op here. High-entropy
    // text so parquet can't compress below the target.
    val md = java.security.MessageDigest.getInstance("MD5")
    (1L to 2000L).map(i => (i, (0 until 4).map(j =>
        md.digest(s"$i-$j".getBytes).map("%02x".format(_)).mkString)
      .mkString(" ")))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$w/store")
    def parts() = new java.io.File(s"$w/store").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts() == 1)
    Jobs.compactStore(spark, s"$w/store", targetFileBytes = 16L << 10)
    assert(parts() > 1, "a store of over-target files must be re-split")
    assert(spark.read.parquet(s"$w/store").count() == 2000)
  }

  test("CompactStore refuses a partitioned dataset (would flatten + drop markers)") {
    import spark.implicits._
    val w = Files.createTempDirectory("compactpart").toString
    Seq((1L, 10L, "x"), (2L, 11L, "y")).toDF("doc_id", "batch_id", "v")
      .write.partitionBy("batch_id").parquet(s"$w/ledger")
    val e = intercept[IllegalArgumentException] {
      Jobs.compactStore(spark, s"$w/ledger")
    }
    assert(e.getMessage.contains("PARTITIONED"), e.getMessage)
    // and the store is untouched — the guard fired before any write
    assert(new java.io.File(s"$w/ledger/batch_id=10").exists())
  }

  test("ExactSubstrDedup: duplicated span excised corpus-wide, keeper intact") {
    import spark.implicits._
    val w = Files.createTempDirectory("exsub").toString
    Seq(
      (1L, "a b c d e x y z w v"),
      (2L, "q r s t u a b c d e"))
      .toDF("doc_id", "text").write.parquet(s"$w/in")
    Jobs.exactSubstrDedup(spark, s"parquet:$w/in", s"$w/out")
    val out = spark.read.parquet(s"$w/out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a b c d e x y z w v")
    assert(out(2L) == "q r s t u")
    assert(runLines(s"$w/out_report") ==
      Seq("input=2 touched=1 tokens_removed=5 n=5"))
  }

  test("empty corpus: scrub and tokenize jobs report zeros, no crash") {
    import spark.implicits._
    val w = Files.createTempDirectory("emptyjobs").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.parquet(s"$w/in")
    Jobs.exactSubstrDedup(spark, s"parquet:$w/in", s"$w/ex")
    assert(runLines(s"$w/ex_report") ==
      Seq("input=0 touched=0 tokens_removed=0 n=5"))
    Jobs.decontaminateCorpus(spark, s"parquet:$w/in", s"$w/dc",
      s"parquet:$w/in")
    assert(runLines(s"$w/dc_report") ==
      Seq("input=0 touched=0 tokens_removed=0"))
    Jobs.tokenizeAndPack(spark, s"parquet:$w/in", s"$w/tp",
      kMerges = 4, seqLen = 8, seed = 1, nShards = 2)
    assert(runLines(s"$w/tp_report").head.startsWith(
      "examples=0 ids=0 merges=0 vocab=0"))
  }

  test("SemDedupCorpus: drops the higher-id near-identical embedding, keeps unembedded docs") {
    import spark.implicits._
    val w = Files.createTempDirectory("semdedup_job").toString
    Seq((1L, "doc one"), (2L, "doc two"), (3L, "doc three"),
      (4L, "doc four"), (5L, "no embedding"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$w/in")
    // docs 1 and 3 are identical directions (cos = 1); 2 and 4 are
    // orthogonal to them and to each other
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("doc_id", "embedding").write.mode("overwrite")
      .parquet(s"$w/emb")
    Jobs.semDedupCorpus(spark, s"parquet:$w/in", s"$w/out", s"$w/emb",
      kClusters = 2, iters = 1, threshold = 0.95)
    val kept = spark.read.parquet(s"$w/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(3L), "higher-id near-identical doc must drop")
    assert(kept.contains(1L), "lower-id twin survives")
    assert(kept.contains(5L), "doc without an embedding row is kept")
    assert(kept == Set(1L, 2L, 4L, 5L), kept.toString)
    val report = spark.read.text(s"$w/out_report").head().getString(0)
    assert(report == "input=5 embedded=4 kept=4 dropped=1", report)
  }

  test("CurateCorpus: exact+near dedup, length and repetition filters") {
    import spark.implicits._
    val work = Files.createTempDirectory("curate").toString
    val base = graft.Tables(spark, sfTiny, "documents")
      .filter(col("doc_id") < 50).select("doc_id", "text")
    val crafted = Seq(
      (1000L, base.filter(col("doc_id") === 0).head().getString(1)), // exact dup
      (1001L, "tiny doc"),                                           // < 5 tokens
      (1002L, Seq.fill(40)("spam spam spam").mkString(" ")))         // repetitive
      .toDF("doc_id", "text")
    base.unionByName(crafted).write.mode("overwrite")
      .parquet(s"$work/in")
    Jobs.curateCorpus(spark, s"parquet:$work/in", s"$work/out")
    val kept = spark.read.parquet(s"$work/out")
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1000L), "exact duplicate must drop (min-id kept)")
    assert(ids.contains(0L))
    assert(!ids.contains(1001L), "short doc must drop")
    assert(!ids.contains(1002L), "repetitive doc must drop")
    assert(kept.count() > 0 && kept.count() <= 53)
    // no surviving content-hash duplicates
    assert(kept.select(md5(col("text"))).distinct().count() == kept.count())
    val report = spark.read.text(s"$work/out_report").head().getString(0)
    assert(report.startsWith("input=53 "))
  }

  test("CurateCorpus gopher gate: rule-dropped doc goes, rest unchanged") {
    import spark.implicits._
    val work = Files.createTempDirectory("curate_g").toString
    val base = graft.Tables(spark, sfTiny, "documents")
      .filter(col("doc_id") < 50).select("doc_id", "text")
    // 10 DISTINCT normal words: passes the minTokens=5 floor and the
    // repetition cap, but sits under the Gopher 30-word floor — ONLY
    // the gopher gate can drop it
    val borderline = Seq(
      (2000L, (0 until 10).map(i => s"plain$i").mkString(" ")))
      .toDF("doc_id", "text")
    base.unionByName(borderline).write.mode("overwrite")
      .parquet(s"$work/in")

    Jobs.curateCorpus(spark, s"parquet:$work/in", s"$work/off")
    assert(spark.read.parquet(s"$work/off")
      .filter(col("doc_id") === 2000L).count() == 1,
      "without the gate the borderline doc survives")

    Jobs.curateCorpus(spark, s"parquet:$work/in", s"$work/on", gopher = true)
    val on = spark.read.parquet(s"$work/on")
    assert(on.filter(col("doc_id") === 2000L).count() == 0,
      "the gate must drop the under-30-word doc")
    val report = spark.read.text(s"$work/on_report").head().getString(0)
    assert(report.startsWith("input=51 gopher_kept="), report)
  }

  test("SpamFilter: threshold keeps/filters/missing counters and corpus") {
    import spark.implicits._
    Seq((1L, "keep me"), (2L, "filter me"), (3L, "no score"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$work/spam_in")
    Seq((1L, 90), (2L, 10)).toDF("doc_id", "score")
      .write.mode("overwrite").parquet(s"$work/spam_scores")
    Jobs.spamFilter(spark, s"parquet:$work/spam_in", s"$work/spam_out",
      s"$work/spam_scores")
    val kept = spark.read.parquet(s"$work/spam_out").collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(1L))
    val report = spark.read.text(s"$work/spam_out_report").head().getString(0)
    assert(report == "kept=1 filtered=1 missing=1")
  }

  test("CollectionStats: a corpus without tokens writes the all-zero header") {
    // sum(tf) over zero rows is NULL; the header must read 0, not throw
    import spark.implicits._
    val corpora = Seq(
      "empty" -> Seq.empty[(Long, String)],
      "punct" -> Seq((1L, "!!! ... ,,,"), (2L, " -- ")))
    corpora.foreach { case (name, rows) =>
      rows.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$work/cs_$name")
      Jobs.collectionStats(spark, s"parquet:$work/cs_$name",
        s"$work/cs_${name}_out")
      assert(runLines(s"$work/cs_${name}_out").sorted ==
        Seq("#DOCS:0", "#TERMS:0", "#TOKENS:0"), name)
    }
  }

  test("QueryStats: pair stats match the ir21 aggregation semantics") {
    import spark.implicits._
    Seq((1L, "spark join fast fast"), (2L, "spark the fast"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$work/qs_in")
    Files.write(Paths.get(s"$work/qs_topics"), "51:spark\n".getBytes)
    Jobs.queryStats(spark, s"parquet:$work/qs_in", s"$work/qs_out",
      s"$work/qs_topics")
    val rows = runLines(s"$work/qs_out").map(_.split("\t").toSeq).toSet
    // 'the' is stoplisted; min-freq: spark(1)&fast -> doc1 min(1,2)=1,
    // doc2 min(1,1)=1
    assert(rows.contains(Seq("spark", "fast", "2", "2")))
    assert(rows.contains(Seq("spark", "join", "1", "1")))
    assert(!rows.exists(_(1) == "the"))

    // side-loaded stoplist file (TrecQueryStats parity): comments and
    // case are normalized, and the file REPLACES the built-in default
    Files.write(Paths.get(s"$work/qs_stop"),
      "# test stoplist\nFAST\n\nthe\n".getBytes)
    Jobs.queryStats(spark, s"parquet:$work/qs_in", s"$work/qs_out2",
      s"$work/qs_topics", stoplist = Some(s"$work/qs_stop"))
    val rows2 = runLines(s"$work/qs_out2").map(_.split("\t").toSeq).toSet
    assert(rows2.contains(Seq("spark", "join", "1", "1")))
    assert(!rows2.exists(r => r(1) == "fast" || r(1) == "the"))
  }

  test("KBAFilter: every grid weight reported plus a best-weight line") {
    Jobs.kbaFilter(spark, s"$sfTiny/events.parquet", s"$work/kba_out",
      threshold = 100.0)
    val rows = runLines(s"$work/kba_out").map(_.split("\t"))
    val (best, weights) = rows.partition(_(0) == "best")
    assert(weights.map(_(0)).toSet == Set("1.0", "2.0", "4.0"))
    assert(weights.forall(_.length == 3))
    assert(best.length == 1 && Set("1.0", "2.0", "4.0").contains(best.head(1)))
    // an impossible threshold still reports all weights, no best line
    Jobs.kbaFilter(spark, s"$sfTiny/events.parquet", s"$work/kba_none",
      threshold = 1e12)
    val none = runLines(s"$work/kba_none").map(_.split("\t"))
    assert(none.length == 3 && none.forall(r => r(1) == "0" && r(2) == "NA"))
  }

  test("eval library: perfect run scores 1.0, judged against qrels file") {
    import spark.implicits._
    val qrelsPath = Files.createTempDirectory("qrels").toString
    // leading/padded whitespace on purpose: real qrels files are
    // hand-edited; without the trim the split yields an empty first
    // field, shifting qid/doc_id/rel a column right and silently
    // dropping the judgment
    Files.writeString(Paths.get(qrelsPath, "qrels.txt"),
      "  53 0 test2 1\n53 0 test3 0\n\t99  0\tnothing 1\n")
    val qrels = Qrels.read(spark, qrelsPath)
    assert(qrels.count() == 3)
    assert(qrels.filter(col("qid") === "53" && col("doc_id") === "test2"
      && col("rel") === 1).count() == 1)
    // the TAB-led line must parse field-correct, not just count
    // (review r18: trim() strips spaces only, so this line used to
    // field-shift to qid='', doc_id='0', rel=NULL and the count-only
    // assert never noticed)
    assert(qrels.filter(col("qid") === "99" && col("doc_id") === "nothing"
      && col("rel") === 1).count() == 1)
    assert(qrels.filter(col("qid") === "").count() == 0)

    val results = Seq(("53", "test2", 1)).toDF("qid", "doc_id", "rank")
    val m = Eval.metrics(results, qrels, k = 1).head()
    assert(m.getAs[Double]("p_at_k") == 1.0)
    assert(m.getAs[Double]("precision") == 1.0)
    assert(m.getAs[Double]("recall") == 1.0)
    assert(m.getAs[Double]("f_beta") == 1.0)
    assert(m.getAs[Double]("ap") == 1.0)
    assert(m.getAs[Double]("utility") == 2.0)
  }
}

/** Test fixture: a Writable whose serialization is the payload bytes
  * BARE (like `WritableWarcRecord.write` and unlike `BytesWritable`,
  * which prepends a 4-byte length) — lets `SequenceFile.createWriter`
  * produce files with the reference's exact value wire layout.
  */
class RawValueWritable extends org.apache.hadoop.io.Writable {
  var bytes: Array[Byte] = Array.emptyByteArray
  override def write(out: java.io.DataOutput): Unit = out.write(bytes)
  override def readFields(in: java.io.DataInput): Unit =
    throw new UnsupportedOperationException("write-only test fixture")
}
