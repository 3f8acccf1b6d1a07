package gbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What a workload's set-up gets: the session, the seed, a fresh work
  * directory for its generated inputs and outputs, and the core count. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, cores: Int) {
  def dir(name: String): String = work.resolve(name).toString
}

/** One timed phase: operations attempted and failed, the work items
  * done (machines, events, documents) over the seconds they took,
  * per-operation latencies in ms, the number of rounds (the unit the
  * Spark counts are divided by: a fleet deploy round, a stream drain, a
  * dedup pass) and the workload's own per-layer readings. */
final case class Phase(attempted: Long, failed: Long, items: Double,
                       itemSeconds: Double, latMs: Seq[Double], rounds: Double,
                       layers: Map[String, Double] = Map.empty) {
  def rate: Double = items / itemSeconds
}

/** A workload after set-up. `warmUp` runs once, untimed, before the
  * first phase; `run` may be called more than once (the traced run
  * times an untraced and a traced phase); `check` verifies
  * every output the phases produced and returns the number of
  * operations whose outputs were wrong; `release` frees everything the
  * workload holds in the session; `layers` takes the readings that
  * need untimed work of their own. */
trait Prepared {
  def warmUp(): Unit
  def run(seconds: Double, tr: Tracer): Phase
  def check(): Long
  def release(): Unit
  /** Extra per-layer readings taken after the phases, untimed. */
  def layers(): Map[String, Double] = Map.empty
}

trait Workload {
  def name: String
  def setup(ctx: Ctx): Prepared
}

object Workload {
  val all: Seq[Workload] = Seq(FleetBuild(), StreamScore(), DedupCorpus())

  /** Runs `op` at least once, and again while another run of the
    * length of the last one still fits in `seconds`. */
  def until(seconds: Double)(op: => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var last = 0L
    do {
      val t0 = System.nanoTime()
      op
      last = System.nanoTime() - t0
    } while (System.nanoTime() + last <= end)
  }
}
