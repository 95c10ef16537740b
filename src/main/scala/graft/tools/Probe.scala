package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev scratchpad: dump the formatted physical plan of each named query.
  * `sbt "runMain graft.tools.Probe px20_langid_ngram"`; env
  * SPARK_GRAFT_SF_DIR overrides the default sf0.01.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    args.foreach { name =>
      println(s"======== PLAN $name ========")
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
