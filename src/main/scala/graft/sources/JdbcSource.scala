package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Live JDBC lookup source (S9; reference
  * `ClueWebRunQueries.java:71-106` / `ClueWebSpamFilter.java:46-79`
  * read per-document spam percentiles from a relational store).
  *
  * Spark-first shape: `spark.read.jdbc` pulls the table ONCE as a
  * DataFrame and every per-document probe becomes one side of a join —
  * never an RPC per row; the score table is broadcast.
  *
  * Tested against embedded Derby (the JDBC engine already on Spark's
  * classpath); the reader is driver-agnostic — any JDBC URL works.
  */
object JdbcSource {

  def readTable(spark: SparkSession, url: String, table: String,
                props: java.util.Properties = new java.util.Properties)
    : DataFrame =
    spark.read.jdbc(url, table, props)
}
