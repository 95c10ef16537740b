package graft

import graft.queries.Decl
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR once and prints two JSON lines — the full record,
  * then a compact last line a bounded tail capture can always parse.
  *
  * A warmup pass first — JVM/classloader/codegen startup otherwise
  * lands entirely on whichever query happens to run first. Repeated,
  * layer-by-layer measurement lives in `perfbench/`.
  */
object Bench {

  /** Execute a query producing its FULL declared output (r11 bench-
    * integrity fix, BENCH_NOTES §0g): a bare count() lets Catalyst
    * column-prune every output expression not needed for row
    * multiplicity — windows, text stitches, even aggregate sum
    * columns — so it times a smaller query than the one declared
    * (which the DuckDB yardstick always materializes in full). toRdd
    * runs the physical plan with the query's complete output schema;
    * rows are counted as InternalRows on the executors, no driver
    * transfer. BenchForceSpec pins the no-pruning property.
    */
  def materialize(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** One bench pass's output: `line` (stdout, the full per-query
    * map), `details` (the per-query record written to the details
    * file) and `last` (stdout's LAST line: `value` plus the 20 slowest
    * queries).
    */
  final case class Record(line: String, details: String, last: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val decls = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Default to an UNCOMMITTED path (r15): a bench run must not stomp
    // the committed BENCH_DETAILS.json in the working tree; copying the
    // local file over it is a deliberate step. Forked `sbt run` cwd is
    // the repo root.
    val detailsOut = sys.env.getOrElse("SPARK_GRAFT_DETAILS_OUT",
      "BENCH_DETAILS.local.json")
    val rec = record(spark, sfDir, cpus, decls, detailsOut)
    val pw = new java.io.PrintWriter(detailsOut)
    try pw.println(rec.details) finally pw.close()
    println(rec.line)
    println(rec.last)
    spark.stop()
  }

  /** Warm up, run `decls` once each on `sfDir`, and build the
    * [[Record]]. `value` is the sum of every query's first-pass
    * seconds; a query that throws is timed to its failure and marked
    * `failed` in the details.
    */
  def record(spark: SparkSession, sfDir: String, cpus: String,
             decls: Seq[Decl], detailsOut: String): Record = {
    // Warmup: exercise the scan + hash-agg + window + broadcast-join +
    // tokenize/explode + native-kernel codegen paths once, so JIT and
    // Janino startup don't land on whichever queries run first (q01–q03
    // measured ~1 s high with a bare count() warmup).
    {
      import org.apache.spark.sql.functions._
      val li = Tables(spark, sfDir, "lineitem")
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .withColumn("r", expr("row_number() OVER (ORDER BY n DESC)"))
        .count()
      li.join(broadcast(Tables(spark, sfDir, "orders").limit(1000)),
        col("l_orderkey") === col("o_orderkey")).count()
      Tables(spark, sfDir, "documents")
        .select(explode(split(lower(col("text")), "[^0-9a-z]+")).as("t"))
        .filter(col("t") =!= "").groupBy("t").count().count()
      Tables(spark, sfDir, "embeddings")
        .select(expr("norm2_f64(embedding)").as("n")).agg(sum("n")).count()
      spark.catalog.clearCache()
    }

    // Full-surface warmup (r16, BENCH_NOTES §0x): run every SELECTED
    // query once against the smallest sibling SF (sf0.001 — same
    // schemas, same plan shapes, ~600 lineitem rows) before the timed
    // pass. The generated-class compiles (Janino; §0m measured the
    // suite at ~2.2k classes / ~19 s estimated) and the C2-JIT of each
    // query's operator code paths are JVM-startup artifacts, not query
    // work — the DuckDB yardstick is an AOT-compiled binary that never
    // pays them, and a long-running driver pays them once per JVM, not
    // once per query. Codegen'd classes are keyed by generated SOURCE
    // (schema + expressions, not data or paths), so the sf0.001 run
    // compiles the same classes the timed pass needs. Never warms at
    // the bench dir itself (compared canonically, so a trailing slash
    // or symlinked spelling cannot slip past): that would be
    // pre-running the benchmark. Skipped when no sibling exists.
    val benchCanon = new java.io.File(sfDir).getCanonicalFile
    val warmDir = Option(benchCanon.getParentFile)
      .map(p => new java.io.File(p, "sf0.001"))
      .filter(_.isDirectory).map(_.getCanonicalPath)
      .filter(_ != benchCanon.getPath)
    warmDir.foreach { wd =>
      decls.foreach { d =>
        // a warmup failure must not kill the bench — the timed pass
        // records its own failed flag for the same query
        try materialize(d.run(spark, wd))
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup ${d.name}: ${e.getMessage}") }
        spark.catalog.clearCache()
      }
    }

    // GC time per query: if the environment degrades over a ~100-query
    // run (heap pressure, cleaner backlog), the gc column says so in the
    // recorded artifact.
    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    // Per-query Janino compilation count (§0m): the codegen cache is
    // keyed by generated source, so family-mates share classes — this
    // column shows which queries actually pay a compile and how many
    // classes the whole suite generates (exact count; the compile TIME
    // is histogram-sampled globally and not reliably attributable).
    def cgCount: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

    // (name, seconds, gc ms, codegen compiles, failed)
    val results = decls.map { d =>
      // Name every job after its query: event logs / the UI can then
      // attribute multi-job (AQE, persist) queries to their owner.
      spark.sparkContext.setJobDescription(d.name)
      val t0 = System.nanoTime()
      val g0 = gcMs
      val cg0 = cgCount
      // a failed query must be VISIBLE in the committed artifact, not
      // just on stderr: an instant throw otherwise records a tiny
      // normal-looking `sec` that reads as an improvement
      val failed =
        try { materialize(d.run(spark, sfDir)); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${d.name} failed: ${e.getMessage}")
          true
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val row = (d.name, dt, gcMs - g0, cgCount - cg0, failed)
      // Queries with shared subtrees persist() them; drop those caches
      // before the next query so timings stay independent (no
      // cross-query subsidy) and memory doesn't accumulate.
      spark.catalog.clearCache()
      row
    }

    val total = results.map(_._2).sum
    val totalGc = results.map(_._3).sum / 1e3
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","gc_sec":$totalGc,"queries":$qs,"sf":"$sfDir"}"""
    val detail = results.map { case (k, v, g, cgn, failed) =>
      // failed is emitted ONLY when true: a throw leaves a wall time
      // that looks like a (usually suspiciously fast) success otherwise
      val failCol = if (failed) ""","failed":true""" else ""
      s"""  {"name":"$k","sec":$v,"gc_ms":$g,"codegen_n":$cgn$failCol}"""
    }.mkString("[\n", ",\n", "\n]")
    // Suite-level codegen accounting (§0m): exact JVM-LIFETIME
    // compilation count — deliberately larger than the sum of the
    // per-query codegen_n rows, because the warmup compiles classes
    // that belong to no row — plus an ESTIMATED total compile time
    // (exponentially-decaying-reservoir mean × lifetime count; Codahale
    // histograms keep no exact sum and the mean is recency-biased,
    // hence the _est suffix).
    val cgTot = cgCount
    val cgMsEst = math.rint(org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getSnapshot.getMean * cgTot)
    val warmupField = warmDir.map(w => s""""warmup_sf":"$w",""").getOrElse("")
    val details =
      s"""{"metric":"total","value":$total,"unit":"sec","gc_sec":$totalGc,"sf":"$sfDir","cpus":"$cpus",$warmupField"heap_max_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},"codegen_n":$cgTot,"codegen_ms_est":$cgMsEst,"queries":$detail}"""
    // The full line is ~2.5k chars — a bounded tail capture cuts its
    // head off, so no complete JSON survives in the tail (rounds 1-2:
    // driver "parsed": null). The LAST line is compact so a tail-parse
    // can always read it whole: same metric/value, the 20 slowest
    // queries, and a pointer to the full per-query record.
    val top = results.sortBy(-_._2).take(20)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + math.rint(v * 1000) / 1000 }
      .mkString("{", ",", "}")
    val last =
      s"""{"metric":"total","value":$total,"unit":"sec","gc_sec":$totalGc,"queries":$top,"queries_note":"20 slowest of ${results.size}; full record in $detailsOut","sf":"$sfDir"}"""
    Record(line, details, last)
  }
}
