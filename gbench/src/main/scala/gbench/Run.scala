package gbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  * `gbench.Run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> [--spans <file>]`.
  *
  * `setup_s` times set-up (session start, input generation, model
  * pre-builds) and one warm-up operation. Untraced (`--trace 0`), the
  * timed phase runs for `--seconds` and the last stdout line carries
  * the end-to-end metrics. Traced, the
  * first half runs untraced and the second half with the benchmark's
  * spans, a `SparkListener` and a `StreamingQueryListener`, and the
  * last line carries the per-layer metrics. */
object Run {

  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[gbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

  /** The library modules Spark jobs are charged to, plus the caller. */
  val Modules: Seq[String] = Seq("data", "ml", "build", "streaming", "llm", "caller")

  /** Per-layer metrics, in order, with their units. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.busy_frac" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.storage_peak_mb" -> "MB") ++
    Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.task_s" -> "s")) ++ Seq(
    "data.query_s" -> "s", "ml.train_s" -> "s",
    "config.parse_ms" -> "ms", "build.redeploy_jobs" -> "count",
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows_max" -> "count", "streaming.state_memory_mb_max" -> "MB",
    "streaming.rows_out" -> "count",
    "llm.candidate_pairs" -> "count", "llm.verified_pairs" -> "count",
    "llm.useful_ratio" -> "ratio", "llm.clusters" -> "count", "llm.recall" -> "ratio",
    "fleet.build_machines_per_s" -> "1/s", "fleet.redeploy_machines_per_s" -> "1/s",
    "stream.events_per_s" -> "1/s", "stream.batch_p50_ms" -> "ms",
    "dedup.docs_per_s" -> "1/s", "retained_storage_mb" -> "MB",
    "host.canary_ms" -> "ms", "host.canary_end_ms" -> "ms",
    "host.loadavg_start" -> "load", "host.loadavg_end" -> "load",
    "host.steal_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("gbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Everything a run measured, by metric name. */
  final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double])

  /** Set-up and warm-up, then the timed phase(s), checks and release. */
  def measure(w: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path,
              cores: Int, spans: Option[Path] = None): Outcome = {
    val canary0 = Stats.canaryMs()
    val load0 = Stats.loadAvg1()
    val ticks0 = Stats.cpuTicks()
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val p = w.setup(Ctx(spark, seed, work, cores))
    log(f"set-up took ${(System.nanoTime() - t0) / 1e9}%.2f s")
    p.warmUp()
    val setupSec = (System.nanoTime() - t0) / 1e9
    log(f"set-up and warm-up took $setupSec%.2f s")
    val sc = spark.sparkContext
    val tr = if (trace) new Tracer(true) else Tracer.off

    val (plain, timed, wall, st, peak) =
      if (!trace) {
        val ph = p.run(seconds, Tracer.off)
        (ph, ph, 0.0, None, 0L)
      } else {
        val plain = p.run(seconds / 2, Tracer.off)
        val peak = new StoragePeak(sc)
        val t0 = System.nanoTime()
        val (ph, st) = try SparkTrace.around(sc, on = true)(p.run(seconds / 2, tr))
          finally peak.close()
        (plain, ph, (System.nanoTime() - t0) / 1e9, st, peak.peakBytes)
      }
    log("timed phase done")
    val wrong = p.check()
    log(s"checks done: $wrong wrong")
    val extra = if (trace) p.layers() else Map.empty[String, Double]
    p.release()
    val retained = StoragePeak.heldBytes(sc) / 1048576.0
    spans.foreach(tr.write)
    val canary1 = Stats.canaryMs()
    val load1 = Stats.loadAvg1()
    val steal = Stats.stealFrac(ticks0, Stats.cpuTicks())
    spark.stop()
    log("session stopped")

    val attempted = plain.attempted + (if (trace) timed.attempted else 0L)
    val failed = plain.failed + (if (trace) timed.failed else 0L) + wrong
    val endToEnd = Map(
      "setup_s" -> setupSec,
      "throughput_per_s" -> plain.rate,
      "latency_p50_ms" -> Stats.median(plain.latMs))
    val layers: Map[String, Double] = st.map { t =>
      val per = timed.rounds
      val mods = Modules.flatMap(m => Seq(
        s"$m.jobs" -> t.moduleJobs(m) / per, s"$m.task_s" -> t.moduleTaskS(m) / per))
      Map(
        "spark.jobs" -> t.jobs / per, "spark.stages" -> t.stages / per,
        "spark.tasks" -> t.tasks / per, "spark.task_s" -> t.runMs / 1e3 / per,
        "spark.busy_frac" -> t.runMs / 1e3 / (wall * cores),
        "spark.shuffle_write_mb" -> t.shuffleWrite / 1048576.0 / per,
        "spark.shuffle_read_mb" -> t.shuffleRead / 1048576.0 / per,
        "spark.spill_mb" -> t.spill / 1048576.0 / per,
        "spark.gc_s" -> t.gcMs / 1e3 / per,
        "spark.storage_peak_mb" -> peak / 1048576.0,
        "trace.overhead_frac" -> (plain.rate / timed.rate - 1)) ++ mods ++
        timed.layers ++ plain.layers.filter { case (k, _) => endToEndNamed(k) }
    }.getOrElse(Map.empty) ++ extra ++ Map(
      "retained_storage_mb" -> retained,
      "host.canary_ms" -> canary0, "host.canary_end_ms" -> canary1,
      "host.loadavg_start" -> load0, "host.loadavg_end" -> load1,
      "host.steal_frac" -> steal)
    val diag = Seq("rounds" -> plain.rounds, "ops" -> plain.attempted.toDouble)
    Outcome(attempted, failed, endToEnd ++ layers ++ diag)
  }

  /** The workload-level figures among the per-layer metrics, which are
    * taken from the untraced half of a traced run. */
  def endToEndNamed(k: String): Boolean =
    Seq("fleet.", "stream.", "dedup.").exists(k.startsWith)

  val endToEnd: Seq[(String, String)] = Seq(
    "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms", "setup_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workload.all.find(_.name == need("workload")).getOrElse(
      sys.error(s"unknown workload ${need("workload")}; one of " +
        Workload.all.map(_.name).mkString(", ")))
    val trace = need("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val o = measure(w, need("seed").toLong, need("seconds").toDouble, trace,
      Paths.get(need("work")).toAbsolutePath, cores, opts.get("spans").map(Paths.get(_)))
    val names = if (trace) perLayer else endToEnd
    println(Json.render(ListMap("workload" -> w.name, "record" ->
      ListMap(o.metrics.toSeq.sortBy(_._1): _*))))
    println(Json.result(o.failed == 0, o.attempted, o.failed,
      names.map { case (n, u) => (n, o.metrics.getOrElse(n, 0.0), u) }))
    sys.exit(0)
  }
}
