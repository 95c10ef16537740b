package perfbench

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import graft.tools.PhaseListener
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * launches this once per run and turns the raw record it writes into
  * metrics. Each mode writes one JSON document to `--out`:
  *
  *  - `--workload suite_sf01 | curate_retrieve_replicated`: the run record
  *  - `--digest <dir>`: order-independent digest of every query output
  *    dumped under `<dir>` by `graft.Verify` (recording expected values)
  *  - `--oracle 1`: the DuckDB oracle SQL of `--queries`, for the
  *    yardstick
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = opts("out")
    val data = opts("data")
    val queries = opts.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

    if (opts.contains("oracle")) {
      val sql = SparkEntry.oracleSqlFor(data)
      write(out, Json.render(queries.flatMap(q => sql.get(q).map(q -> _)).toMap))
      return
    }

    val spark = GraftSession.builder(Runtime.getRuntime.availableProcessors.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val sessionStartS = (System.currentTimeMillis() - rt.getStartTime) / 1e3
    try opts.get("digest") match {
      case Some(dir) =>
        val got = new java.io.File(dir).listFiles().filter(_.isDirectory)
          .map(_.getName).sorted.map { q =>
            val (n, h) = Workloads.digest(spark.read.parquet(s"$dir/$q"))
            q -> Map("rows" -> n, "hash" -> h)
          }.toMap
        write(out, Json.render(got))
      case None =>
        write(out, Json.render(run(spark, opts, data, queries) +
          ("session_start_s" -> sessionStartS)))
    } finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Map[String, String], data: String,
                  queries: Seq[String]): Map[String, Any] = {
    val pl = new PhaseListener
    spark.sparkContext.addSparkListener(pl)
    val rec = new Recorder(spark)
    val w = new Workloads(spark, rec, pl, opts("seconds").toDouble,
      opts("trace") == "1", opts("min-rounds").toInt)
    val cpu0 = Proc.cpuTicks
    val t0 = Clock.nowUs
    opts("workload") match {
      case "suite_sf01" => w.suite(data, queries, opts("seed").toLong)
      case "curate_retrieve_replicated" =>
        w.replicated(opts("corpus"), opts("warm"), opts("topics"), opts("work"))
      case other => sys.error(s"unknown workload $other")
    }
    val t1 = Clock.nowUs
    // /proc/stat deltas over the run window, seconds summed over CPUs
    val d = Proc.cpuTicks.zip(cpu0).map { case (a, b) => (a - b) / 100.0 }
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> spark.sparkContext.defaultParallelism,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("-X")),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "window_s" -> (t1 - t0) / 1e6,
      "steal_s" -> d(7), "sys_s" -> (d(2) + d(5) + d(6)),
      "user_s" -> (d(0) + d(1)), "idle_s" -> d(3), "iowait_s" -> d(4),
      "peak_rss_mb" -> Proc.peakRssMb)
    Map("env" -> env, "spans" -> rec.spanRecords, "checks" -> w.checks.toMap) ++
      rec.listenerRecords
  }

  private def write(path: String, s: String): Unit = {
    val pw = new java.io.PrintWriter(path, "UTF-8")
    try pw.println(s) finally pw.close()
  }
}
