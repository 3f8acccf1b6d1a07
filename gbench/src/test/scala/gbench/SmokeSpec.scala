package gbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** A tiny-size traced run of every workload: set-up, warm-up, an
  * untraced and a traced phase, output checks and release, with no
  * failed operation and every per-layer metric reported. */
class SmokeSpec extends AnyFunSuite {

  private val tiny: Seq[(Workload, String)] = Seq(
    FleetBuild(machines = 4, tags = 8, minutes = 720) -> "fleet.build_machines_per_s",
    StreamScore(minutes = 720, files = 2) -> "streaming.state_rows_max",
    DedupCorpus(docs = 200) -> "llm.recall")

  test("the tiny workloads cover every workload the benchmark names") {
    assert(tiny.map(_._1.name) == Workload.all.map(_.name))
  }

  tiny.foreach { case (w, own) =>
    test(s"${w.name} runs clean at tiny size") {
      val work = Files.createTempDirectory(s"gbench-${w.name}")
      try {
        val o = Run.measure(w, seed = 7L, seconds = 0.2, trace = true, work = work,
          cores = 2)
        assert(o.attempted >= 2 && o.failed == 0, s"outcome $o")
        Seq("setup_s", "throughput_per_s", "latency_p50_ms", "spark.jobs",
          "trace.overhead_frac", "host.canary_ms", own).foreach(k =>
          assert(o.metrics.get(k).exists(v => !v.isNaN), s"$k missing or NaN: ${o.metrics}"))
        assert(o.metrics("spark.jobs") > 0 && o.metrics(own) > 0)
        assert(o.metrics("retained_storage_mb") == 0.0)
      } finally graft.Scratch.deleteTree(work)
    }
  }
}
