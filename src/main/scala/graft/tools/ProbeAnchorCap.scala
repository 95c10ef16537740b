package graft.tools

import graft.GraftSession
import graft.ir.AnchorExtractJob
import org.apache.spark.sql.functions._

/** Scale row for the anchor-glue cap fix (third review pass): the
  * 10 MB per-URL cap used to be applied AFTER collect_list + concat_ws
  * materialized the full anchor set, so a hub URL's whole inbound
  * anchor mass sat in ONE unspillable agg buffer just to be truncated.
  * The shipped shape cuts with a running-length window in the same
  * sort order BEFORE the aggregation — output-identical by
  * construction (WarcSpec pins it on a mid-anchor cut), buffer bounded
  * at ~maxChars.
  *
  * The probe builds the adversarial shape directly: one hub URL with
  * `H` inbound anchors (the web's power-law head) plus a uniform tail,
  * then runs old vs new glue at a cap that truncates the hub. Claims
  * to verify: (1) outputs are byte-identical; (2) the new shape's agg
  * input collapses to ~cap/avgLen rows for the hub; (3) wall does not
  * regress on the tail-dominated part of the workload.
  *
  * Usage: `sbt "runMain graft.tools.ProbeAnchorCap [H] [tailUrls]"`
  * (default 2,000,000 hub anchors, 100,000 tail URLs × 3 anchors).
  */
object ProbeAnchorCap {
  def main(args: Array[String]): Unit = {
    val h = args.headOption.map(_.toInt).getOrElse(2000000)
    val tails = args.lift(1).map(_.toInt).getOrElse(100000)
    val cap = 1 << 20 // 1 MiB: truncates the hub, leaves the tail whole
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val hub = spark.range(h).select(
      lit("http://hub.example").as("url"),
      concat(lit("anchor text variant number "), col("id")).as("anchor"))
    val tail = spark.range(tails.toLong * 3).select(
      concat(lit("http://t"), (col("id") % tails)).as("url"),
      concat(lit("tail anchor "), col("id")).as("anchor"))
    val anchors = hub.unionAll(tail).repartition(32).localCheckpoint()
    val n = anchors.count()

    def oldGlue = anchors.groupBy("url")
      .agg(substring(
        concat_ws("\t", array_sort(collect_list(col("anchor")))),
        1, cap).as("anchortext"))

    // alternate the arm order per rep (the ProbePx04d
    // discipline): a fixed old→new order makes run-1 old absorb the
    // shape family's first-codegen/JIT cost and overstates the new
    // shape's win
    def arm(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val rows = f
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    for (r <- 1 to 4) {
      val oldFirst = r % 2 == 1
      val (oldRows, oldSec, newRows, newSec) =
        if (oldFirst) {
          val (or_, os) = arm(graft.Bench.materialize(oldGlue))
          val (nr, ns) = arm(graft.Bench.materialize(
            AnchorExtractJob.glue(anchors, cap)))
          (or_, os, nr, ns)
        } else {
          val (nr, ns) = arm(graft.Bench.materialize(
            AnchorExtractJob.glue(anchors, cap)))
          val (or_, os) = arm(graft.Bench.materialize(oldGlue))
          (or_, os, nr, ns)
        }
      println(f"""[anchorcap] {"run":$r,"order":"${if (oldFirst) "old_first" else "new_first"}","anchors":$n,"hub":$h,"cap":$cap,"old_sec":$oldSec%.2f,"new_sec":$newSec%.2f,"old_rows":$oldRows,"new_rows":$newRows}""")
    }

    // structural claim: the windowed cut's agg input for the hub is
    // ~cap/avgLen rows, not H
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("url").orderBy("anchor")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val kept = anchors
      .withColumn("_cum", sum(length(col("anchor")) + lit(1)).over(w))
      .filter(col("_cum") - (length(col("anchor")) + lit(1)) < cap)
      .groupBy("url").count()
      .filter(col("url") === "http://hub.example")
      .head().getLong(1)
    println(s"""[anchorcap] {"hub_anchors":$h,"hub_agg_rows_after_cut":$kept}""")

    // and the two shapes agree byte-for-byte
    val diff = oldGlue.alias("a")
      .join(AnchorExtractJob.glue(anchors, cap).alias("b"), Seq("url"))
      .filter(col("a.anchortext") =!= col("b.anchortext")).count()
    println(s"""[anchorcap] {"mismatched_urls":$diff}""")
    spark.stop()
  }
}
