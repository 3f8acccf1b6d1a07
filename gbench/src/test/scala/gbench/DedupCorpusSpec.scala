package gbench

import org.scalatest.funsuite.AnyFunSuite

class DedupCorpusSpec extends AnyFunSuite {

  test("components map every paired document to its component's smallest document") {
    val got = DedupCorpus.components(Seq(5 -> 9, 9 -> 2, 7 -> 8, 3 -> 4, 4 -> 8))
    assert(got == Map(2 -> 2L, 5 -> 2L, 9 -> 2L, 3 -> 3L, 4 -> 3L, 7 -> 3L, 8 -> 3L))
    assert(DedupCorpus.components(Nil).isEmpty)
  }
}
