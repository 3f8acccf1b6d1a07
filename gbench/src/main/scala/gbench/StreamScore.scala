package gbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, isnan}

import graft.build.{ModelBuilder, Persistence, Project}
import graft.data.{Providers, TimeSeries}
import graft.streaming.StreamingScoring

/** `stream_score`: a model built during set-up is loaded with
  * `Persistence.loadFull`, and `StreamingScoring.anomalyJob` drains a
  * backlog of the generator's raw events into the `Forwarder.toParquet`
  * sink. The events sit in `files` time-ordered parquet files, one per
  * micro-batch, followed by a file holding one far-future event that
  * advances the watermark past every bucket. One round is one query
  * over a fresh checkpoint and sink. */
final case class StreamScore(minutes: Int = 1440, files: Int = 4, limitMin: Int = 60)
    extends Workload {
  val name = "stream_score"
  val ResolutionSec = 600L

  def setup(ctx: Ctx): Prepared = {
    val spark = ctx.spark
    val pool = (0 until 4).map(i => f"tag-$i%02d")
    // the model trains on the history with its glitches cleaned; the
    // stream replays the raw events, ±Infinity included
    val rows = Gen.sensorRows(ctx.seed, pool, minutes, limitMin, infs = true)
    val hist = ctx.dir("sensor")
    Gen.sensorFrame(spark, Gen.sensorRows(ctx.seed, pool, minutes, limitMin, infs = false))
      .repartition(ctx.cores).write.parquet(hist)
    val long = Providers.parquet(spark, hist, "tag", "ts", "value")
    val d = Gen.machines(ctx.seed, 1, pool, minutes).head.copy(model = Gen.Pca, smoothing = true)
    val modelDir = Project.buildAll(Project.parse(
        Gen.projectYaml(Seq(d), limitMin, pipeline = false), "gbench-stream"),
      long, "tag", "ts", "value", ctx.dir("models"), parallelism = ctx.cores).head.modelDir

    // the backlog: time-ordered chunks, one parquet file each (one
    // partition per chunk, written by one job), with strictly increasing
    // mtimes — the file source orders by mtime
    val in = ctx.dir("events")
    val sorted = rows.sortBy(_._2)
    val sentinel = (pool.head, (Gen.Epoch0 + (minutes + 1440) * 60L) * 1000L, 0.0)
    val chunks = sorted.grouped((sorted.size + files - 1) / files).toSeq :+ Seq(sentinel)
    val keyed = spark.sparkContext.parallelize(chunks.zipWithIndex.flatMap { case (c, i) =>
      c.map { case (t, ms, v) => i -> Row(t, new java.sql.Timestamp(ms), v) } }, chunks.size)
      .partitionBy(new org.apache.spark.HashPartitioner(chunks.size))
    spark.createDataFrame(keyed.values, Gen.SensorSchema).write.parquet(in)
    new java.io.File(in).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex
      .foreach { case (f, i) => f.setLastModified(1700000000000L + i * 1000L) }

    new Stream(ctx, modelDir, in, pool, sorted, sorted.size + 1L)
  }

  private final class Stream(ctx: Ctx, modelDir: String, in: String, tags: Seq[String],
                             rows: Seq[(String, Long, Double)], events: Long) extends Prepared {
    private val fd = Persistence.loadFull(modelDir)._1
    private val sinks = mutable.ArrayBuffer.empty[String]
    private var rounds = 0

    /** A query over the first two files only. */
    def warmUp(): Unit = drain(s"$in/part-0000[01]-*", ctx.dir("warmup"), Tracer.off): Unit

    /** The same events' complete buckets, resampled and scored in batch. */
    private def reference(): Array[Row] = {
      val wide = TimeSeries.pivotWide(TimeSeries.resample(Gen.sensorFrame(ctx.spark, rows),
        Seq("tag"), "ts", "value", ResolutionSec), "tag", tags)
      val complete = wide.filter(tags.map(t => col(t).isNotNull && !isnan(col(t))).reduce(_ && _))
      ModelBuilder.score(modelDir, complete, ResolutionSec, allColumns = true).collect()
    }

    /** One query over a fresh checkpoint and sink; returns its seconds
      * and the triggerExecution ms of its data batches. */
    def drain(files: String, root: String, tr: Tracer): (Double, Seq[Double]) = {
      val stream = ctx.spark.readStream.schema(Gen.SensorSchema)
        .option("maxFilesPerTrigger", "1").parquet(files)
      val t0 = System.nanoTime()
      val q = tr.span("streaming.anomaly_job")(StreamingScoring.anomalyJob(fd, "machine-00",
        stream, "tag", "ts", "value", ResolutionSec, s"$root/out", s"$root/ckpt"))
      try tr.span("streaming.drain")(q.processAllAvailable()) finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      (sec, batches.map(_.durationMs.get("triggerExecution").doubleValue))
    }

    def run(seconds: Double, tr: Tracer): Phase = {
      val secs = mutable.ArrayBuffer.empty[Double]
      val lat = mutable.ArrayBuffer.empty[Double]
      var failed = 0L
      val st = new StreamTrace
      if (tr.on) ctx.spark.streams.addListener(st)
      try Workload.until(seconds) {
        val root = ctx.dir(s"rounds/$rounds")
        rounds += 1
        try {
          val (s, b) = drain(in, root, tr)
          secs += s; lat ++= b; sinks += s"$root/out"
        } catch { case scala.util.control.NonFatal(e) =>
          failed += 1; Run.log(s"stream_score: drain into $root failed: $e")
        }
      } finally if (tr.on) {
        org.apache.spark.BusDrain(ctx.spark.sparkContext)
        ctx.spark.streams.removeListener(st)
      }
      val n = secs.size.toDouble
      val ps = st.progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
      def dur(k: String) = Stats.median(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val ops = ps.flatMap(_.stateOperators.toSeq)
      Phase(n.toLong + failed, failed, events * n, secs.sum, lat.toSeq, n, Map(
        "stream.events_per_s" -> events * n / secs.sum,
        "stream.batch_p50_ms" -> Stats.median(lat),
        "streaming.batches" -> ps.size / n,
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.get_batch_ms" -> dur("getBatch"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.state_commit_ms" -> Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        "streaming.state_rows_max" -> (0L +: ops.map(_.numRowsTotal)).max.toDouble,
        "streaming.state_memory_mb_max" -> (0L +: ops.map(_.memoryUsedBytes)).max / 1048576.0))
    }

    /** Every sink must hold exactly the batch reference's buckets, with
      * equal values after rounding. */
    def check(): Long = {
      val want = reference()
      sinks.count { out =>
        val got = ctx.spark.read.parquet(out).drop("machine", "batch_id").collect()
        val ok = StreamScore.sameRows(want, got)
        if (!ok) Run.log(s"stream_score: sink $out (${got.length} rows) differs from " +
          s"the batch score (${want.length} rows)")
        !ok
      }.toLong
    }

    /** Rows the last query wrote to its sink. */
    override def layers(): Map[String, Double] = Map("streaming.rows_out" ->
      sinks.lastOption.map(ctx.spark.read.parquet(_).count().toDouble).getOrElse(0.0))

    def release(): Unit = ctx.spark.streams.active.foreach(_.stop())
  }
}

object StreamScore {
  /** Equal up to rounding: doubles within 1e-6 relative, NaN equal to
    * NaN, infinities equal to themselves. */
  def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Number, y: Number) => x.longValue == y.longValue
    case _ => a == b
  }

  def sameRows(want: Array[Row], got: Array[Row]): Boolean = {
    if (want.length != got.length || want.isEmpty) return want.length == got.length
    val cols = want.head.schema.fieldNames.toSeq
    if (cols.toSet != got.head.schema.fieldNames.toSet) return false
    val byStart = got.map(r => r.getAs[Any]("start").toString -> r).toMap
    want.forall { w =>
      byStart.get(w.getAs[Any]("start").toString).exists(g =>
        cols.forall(c => close(w.getAs[Any](c), g.getAs[Any](c))))
    }
  }
}
