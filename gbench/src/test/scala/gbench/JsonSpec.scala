package gbench

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("NaN and both infinities are quoted, so the line stays valid JSON") {
    assert(Json.num(Double.NaN) == "\"NaN\"")
    assert(Json.num(Double.PositiveInfinity) == "\"Infinity\"")
    assert(Json.num(Double.NegativeInfinity) == "\"-Infinity\"")
    assert(Json.render(Map("a" -> Double.NegativeInfinity)) == "{\"a\":\"-Infinity\"}")
  }

  test("finite numbers keep every digit") {
    assert(Json.num(1.2034567890123) == "1.2034567890123")
    assert(Json.num(3.0) == "3")
    assert(Json.num(-0.5) == "-0.5")
    assert(Json.num(1.5e-7) == "1.5E-7")
    assert(Json.num(1e300) == "1.0E300")
  }

  test("strings are escaped") {
    assert(Json.str("a\"b\\c\nd\u0001") == "\"a\\\"b\\\\c\\nd\\u0001\"")
  }

  test("the result line has exactly the four keys, metrics with value and unit") {
    val line = Json.result(correct = true, 12, 0,
      Seq(("latency_p50_ms", 1.25, "ms"), ("setup_s", Double.PositiveInfinity, "s")))
    assert(line ==
      "{\"correct\":true,\"attempted\":12,\"failed\":0,\"metrics\":{" +
        "\"latency_p50_ms\":{\"value\":1.25,\"unit\":\"ms\"}," +
        "\"setup_s\":{\"value\":\"Infinity\",\"unit\":\"s\"}}}")
  }

  test("quantiles interpolate and an empty sample is NaN") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.95) == 9.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("jobs are charged to the innermost library module of their call site") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.Scratch$.dir(Scratch.scala:2)",
      "graft.ml.CrossValidate$.withRowIndexCounted(CrossValidate.scala:95)",
      "graft.build.ModelBuilder$.buildSpec(ModelBuilder.scala:10)").mkString("\n")
    assert(SparkTrace.moduleOf(site).contains("ml"))
    assert(SparkTrace.moduleOf("graft.Tables$.apply(Tables.scala:1)").contains("data"))
    assert(SparkTrace.moduleOf("graft.functions.MinHash$.x(MinHash.scala:1)").contains("llm"))
    assert(SparkTrace.moduleOf("gbench.DedupCorpus.pass(DedupCorpus.scala:1)").isEmpty)
  }
}
