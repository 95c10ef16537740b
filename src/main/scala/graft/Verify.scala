package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries whose `prepare` hook threw (r15 advice item 2): their
    // oracle SQL would reference an artifact THIS run never wrote — a
    // stale artifact from a prior run at the same sfDir would then
    // pair silently. Tracked so the dump below can substitute a
    // pairing-specific loud failure instead.
    val prepareFailed = scala.collection.mutable.Set.empty[String]
    selected.foreach { d =>
      try {
        // materialize any artifact the ORACLE SQL reads (px85's
        // deflate kernel) before dumping the query — the dump and the
        // artifact are then produced by the same run at the same sfDir
        try d.prepare.foreach(p => p(spark, sfDir))
        catch { case e: Throwable => prepareFailed += d.name; throw e }
        d.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${d.name}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // drop per-query persists (see Bench)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracleSqlFor: per-SF tokens (px85's artifact dir) substituted so
    // the dumped SQL is mechanically paired with THIS run's artifacts.
    // Scoped to the SELECTED queries (r15 advice item 2): under
    // SPARK_GRAFT_ONLY the dump otherwise carries oracle SQL for
    // queries this run never dumped — check.py then fails them with a
    // generic "no spark result parquet" (driver runs select everything,
    // so the driver gate's query count is unchanged). A RUN failure
    // keeps its entry — the missing parquet must stay red — but a
    // PREPARE failure swaps the SQL for a loud pairing-specific error:
    // the real SQL would read an artifact this run never wrote, and a
    // stale one from a prior run at the same sfDir would pair silently.
    val selectedNames = selected.map(_.name).toSet
    val json = SparkEntry.oracleSqlFor(sfDir)
      .filter { case (k, _) => selectedNames(k) }
      .map { case (k, v) =>
        val sql = if (prepareFailed(k))
          s"SELECT error('graft: prepare hook for $k FAILED in the " +
            "Verify run that wrote this dump; its oracle artifact was " +
            "not (re)written — rerun Verify at this sfDir')"
        else v
        s"${q(k)}: ${q(sql)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
