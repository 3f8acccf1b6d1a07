package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's number encoding: one non-finite query time must
  * not make the summary line unparseable. */
class BenchSpec extends AnyFunSuite {

  test("jnum4 rounds finite values and quotes NaN and ±Infinity") {
    assert(Bench.jnum4(1.23456) == "1.2346")
    assert(Bench.jnum4(2.0) == "2.0")
    assert(Bench.jnum4(Double.NaN) == "\"NaN\"")
    assert(Bench.jnum4(Double.PositiveInfinity) == "\"Infinity\"")
    assert(Bench.jnum4(Double.NegativeInfinity) == "\"-Infinity\"")
    assert(Bench.jnum(Double.PositiveInfinity) == "\"Infinity\"")
    // a summary map holding every kind of value is strict JSON
    val line = Seq(0.5, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .zipWithIndex.map { case (v, i) => s""""q$i":${Bench.jnum4(v)}""" }
      .mkString("{", ",", "}")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(tree.get("q0").asDouble() == 0.5)
    assert(tree.get("q2").asText() == "Infinity")
  }

  test("the summary line stays within its budget and parses, however long the errors") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // 91 queries named longer than the real suite's (average 18 chars),
    // each with a slow time and a long error message
    val names = (1 to 91).map(i => f"q$i%02d_" + "long_query_name".padTo(18, 'x'))
    val queries = names.map(_ -> 123.45678)
    val errors = names.map(_ -> ("java.lang.IllegalStateException: " + "é" * 120))
    def parse(line: String) = {
      assert(line.getBytes("UTF-8").length <= Bench.SummaryBudget,
        s"summary line is ${line.getBytes("UTF-8").length} bytes")
      mapper.readTree(line)
    }
    val tree = parse(Bench.summaryLine(42.0, 3, queries, errors,
      "/data/sf0.1", "BENCH_LOCAL.json"))
    assert(tree.get("errors").get("count").asInt() == 91)
    assert(tree.get("n_queries").asInt() == 91)
    assert(tree.get("queries").get(names.last).asDouble() == 123.4568)
    // an errors map under 600 chars can still push the assembled line
    // over the tail: the old errors-only rule printed this one in full
    val twoErrs = errors.take(2).map { case (k, _) => k -> "x" * 200 }
    assert(twoErrs.map { case (k, v) => k.length + v.length + 6 }.sum < 600)
    val two = parse(Bench.summaryLine(42.0, 3, queries, twoErrs,
      "/data/sf0.1", "BENCH_LOCAL.json"))
    assert(two.get("errors").get("count").asInt() == 2)
    // the fallback is decided on the assembled line, not on the errors
    // map alone: a small run keeps an errors map far over 600 chars
    val few = parse(Bench.summaryLine(1.0, 3, queries.take(5), errors.take(3),
      "/data/sf0.1", "BENCH_LOCAL.json"))
    assert(few.get("errors").size() == 3)
    assert(few.get("errors").get(names.head).asText().startsWith("java.lang"))
  }
}
