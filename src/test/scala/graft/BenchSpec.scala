package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import graft.queries.Decl
import scala.jdk.CollectionConverters._

/** The driver contract of `graft.Bench`'s output and the shared
  * `SPARK_GRAFT_ONLY` selection that Bench and Verify both use.
  */
class BenchSpec extends SparkSpec {

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def fieldNames(n: JsonNode): Seq[String] =
    if (n.isObject) n.fields.asScala.toSeq.flatMap(e =>
      e.getKey +: fieldNames(e.getValue))
    else if (n.isArray) n.elements.asScala.toSeq.flatMap(fieldNames)
    else Nil

  test("select: unset selects every query; prefixes select by name start") {
    assert(SparkEntry.select(None) == SparkEntry.decls)
    val names = SparkEntry.select(Some(" px63 , px67,")).map(_.name)
    assert(names == Seq("px63_bpe_encode", "px67_bpe_fertility"))
  }

  test("select refuses a prefix list that matches no declared query") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("zz99,nope"))
    }
    assert(e.getMessage.contains("[zz99, nope]"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }

  test("record: full line, details and compact last line keep the contract") {
    val failing = Decl("zz_fails",
      (s, _) => s.range(1).selectExpr("raise_error('boom') AS x"), None)
    val decls = SparkEntry.select(Some("q01,q02")) :+ failing
    val rec =
      try Bench.record(spark, sfTiny, "4", decls, "details.json")
      finally spark.sparkContext.setJobDescription(null)

    val line = json.readTree(rec.line)
    val qs = line.get("queries").fields.asScala.toSeq
    assert(qs.map(_.getKey) == Seq("q01_agg_sums", "q02_join_multiway",
      "zz_fails"))
    val sum = qs.map(_.getValue.asDouble).sum
    assert(math.abs(line.get("value").asDouble - sum) < 1e-9,
      s"value ${line.get("value")} != sum of queries $sum")

    val last = json.readTree(rec.last)
    assert(last.get("value").asDouble == line.get("value").asDouble)
    assert(last.get("queries").size == 3)

    val rows = json.readTree(rec.details).get("queries").elements.asScala
      .map(r => r.get("name").asText -> r).toMap
    assert(rows("zz_fails").get("failed").asBoolean)
    assert(!rows("q01_agg_sums").has("failed"))
    assert(rows.values.forall(r =>
      Seq("sec", "gc_ms", "codegen_n").forall(r.has)))

    for (n <- Seq(line, last, json.readTree(rec.details))) {
      val stale = fieldNames(n).filter(k =>
        k.contains("storm") || k.contains("rerun") || k.startsWith("cpu_"))
      assert(stale.isEmpty, s"retired keys left: $stale")
    }
  }
}
