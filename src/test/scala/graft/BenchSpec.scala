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
}
