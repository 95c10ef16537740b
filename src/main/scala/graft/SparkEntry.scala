package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers a [[graft.queries.Decl]] in one
  * of the module registries below; this object just aggregates them into
  * the driver's `queries` / `oracleSql` maps.
  */
object SparkEntry {

  /** All declared operator queries, in registration order. */
  def decls: Seq[Decl] =
    RelationalQueries.all ++ IrQueries.all ++ PipelineQueries.all ++
      TemporalQueries.all

  /** The declared queries a run selects (Bench, Verify): every one of
    * [[decls]] when `only` is unset, else those whose name starts with
    * one of its comma-separated prefixes (`SPARK_GRAFT_ONLY=px63,px67`,
    * an iteration aid; driver runs leave it unset). A list that selects
    * nothing is refused: an empty run would otherwise report a zero
    * total and an empty oracle dump that a compare passes vacuously.
    */
  def select(only: Option[String]): Seq[Decl] = only match {
    case None => decls
    case Some(spec) =>
      val prefixes = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val picked = decls.filter(d => prefixes.exists(d.name.startsWith))
      require(picked.nonEmpty,
        s"SPARK_GRAFT_ONLY='$spec' selects no declared query (prefixes: " +
          prefixes.mkString("[", ", ", "]") + ")")
      picked
  }

  /** Flagship query (sequential-scan LM-Dirichlet retrieval, SURVEY
    * §3.1) on /root/testdata/sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("ir14_score_lmdir")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    decls.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * NOTE: px85's entry is runnable only after per-SF preparation —
    * its SQL carries the `__PX85_ARTIFACT_DIR__` token and reads a
    * kernel artifact that [[prepares]] writes. Consumers must use
    * [[oracleSqlFor]](sfDir) for the runnable form and run the
    * prepare hook first — which is exactly what Verify does (the
    * driver consumes Verify's oracle_sql.json dump, never this raw
    * map). Every other entry is runnable as-is.
    */
  def oracleSql: Map[String, String] =
    decls.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** Per-query oracle-input materialization hooks (today just px85's
    * deflate-kernel artifact): run `prepares(name)(spark, sfDir)`
    * before executing the matching [[oracleSqlFor]] SQL. */
  def prepares: Map[String, (SparkSession, String) => Unit] =
    decls.flatMap(d => d.prepare.map(d.name -> _)).toMap

  /** [[oracleSql]] made runnable for one sfDir: per-SF tokens (today
    * just px85's kernel-artifact dir) substituted, so a dump produced
    * at sfDir X can never read an artifact produced at sfDir Y — the
    * r15 mechanical-pairing fix. Verify dumps THIS.
    */
  def oracleSqlFor(sfDir: String): Map[String, String] = {
    val px85Dir = PipelineQueries.px85ArtifactPath(sfDir)
    oracleSql.map { case (k, v) =>
      k -> v.replace(PipelineQueries.px85ArtifactToken, px85Dir)
    }
  }
}
