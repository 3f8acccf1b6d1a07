package gbench

import scala.collection.mutable

import graft.build.{ModelBuilder, Persistence, Project}
import graft.data.Providers

/** `fleet_build`: a cold `Project.buildAll` of an M-machine project into
  * an empty model registry, then a redeploy of the same project into a
  * fresh output root against that registry, where every machine is a
  * hit. One round is both deploys; rounds repeat until time is up. The
  * latency is the wall time of one cold deploy (parse, plan, build). */
final case class FleetBuild(machines: Int = 4, tags: Int = 12,
                            minutes: Int = 1440, limitMin: Int = 60)
    extends Workload {
  val name = "fleet_build"

  def setup(ctx: Ctx): Prepared = {
    val spark = ctx.spark
    val pool = (0 until tags).map(i => f"tag-$i%02d")
    val path = ctx.dir("sensor")
    Gen.sensorFrame(spark, Gen.sensorRows(ctx.seed, pool, minutes, limitMin, infs = true))
      .repartition(ctx.cores).write.parquet(path)
    val long = Providers.parquet(spark, path, "tag", "ts", "value")
    val defs = Gen.machines(ctx.seed, machines, pool, minutes)
    val yaml = Gen.projectYaml(defs, limitMin)
    new Fleet(ctx, long, yaml)
  }

  private final class Fleet(ctx: Ctx, long: org.apache.spark.sql.DataFrame, yaml: String)
      extends Prepared {
    private var rounds = 0
    private val cold = mutable.ArrayBuffer.empty[ModelBuilder.BuildResult]
    private val redeployed = mutable.ArrayBuffer.empty[ModelBuilder.BuildResult]
    private var failedOps = 0L

    /** Parse, plan and build the project; None when the build threw. */
    def deploy(y: String, out: String, registry: Option[String],
               tr: Tracer): Option[Seq[ModelBuilder.BuildResult]] = {
      val spec = tr.span("config.parse") {
        val s = Project.parse(y, "gbench-fleet")
        Project.plan(s)
        s
      }
      try Some(Project.buildAll(spec, long, "tag", "ts", "value", out, registry,
        parallelism = ctx.cores))
      catch { case scala.util.control.NonFatal(e) =>
        Run.log(s"fleet_build: deploy into $out failed: $e"); None
      }
    }

    /** One cold deploy of the whole project, outside any registry. */
    def warmUp(): Unit = deploy(yaml, ctx.dir("warmup"), None, Tracer.off): Unit

    def run(seconds: Double, tr: Tracer): Phase = {
      val (sc, rc) = (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
      val lat = mutable.ArrayBuffer.empty[Double]
      var (attempted, failed, querySec, trainSec) = (0L, 0L, 0.0, 0.0)
      val redeployJobs = mutable.ArrayBuffer.empty[Double]
      val sparkCtx = ctx.spark.sparkContext
      Workload.until(seconds) {
        val root = ctx.dir(s"rounds/$rounds")
        rounds += 1
        val t0 = System.nanoTime()
        val c = tr.span("build.cold")(deploy(yaml, s"$root/cold", Some(s"$root/registry"), tr))
        val t1 = System.nanoTime()
        val (r, jobs) = SparkTrace.around(sparkCtx, tr.on)(tr.span("build.redeploy")(
          deploy(yaml, s"$root/redeploy", Some(s"$root/registry"), tr)))
        val t2 = System.nanoTime()
        sc += (t1 - t0) / 1e9
        rc += (t2 - t1) / 1e9
        lat += (t1 - t0) / 1e6
        jobs.foreach(j => redeployJobs += j.jobs.toDouble)
        attempted += 2L * machines
        Seq(c, r).foreach(x => if (x.isEmpty) failed += machines)
        c.foreach { rs =>
          cold ++= rs
          rs.foreach { b =>
            val q = FleetBuild.num(b.metadata, "dataset", "query_duration_sec")
            val t = FleetBuild.num(b.metadata, "model", "model_training_duration_sec")
            querySec += q; trainSec += t
          }
        }
        r.foreach(redeployed ++= _)
      }
      failedOps += failed
      val n = sc.size.toDouble
      Phase(attempted, failed, machines * n, sc.sum, lat.toSeq, n, Map(
        "fleet.build_machines_per_s" -> machines * n / sc.sum,
        "fleet.redeploy_machines_per_s" -> machines * n / rc.sum,
        "config.parse_ms" -> Stats.median(tr.ms("config.parse")),
        "build.redeploy_jobs" -> Stats.median(redeployJobs),
        "data.query_s" -> querySec / n,
        "ml.train_s" -> trainSec / n))
    }

    def check(): Long = {
      val badCold = cold.filter(b => b.fromCache || !FleetBuild.loadsFinite(b.modelDir))
      val badRedeploy =
        redeployed.filter(b => !b.fromCache || !FleetBuild.loadsFinite(b.modelDir))
      badCold.foreach(b => Run.log(s"fleet_build: cold build of ${b.modelDir} " +
        s"(fromCache=${b.fromCache}) is not a fresh, loadable, finite model"))
      badRedeploy.foreach(b => Run.log(s"fleet_build: redeploy of ${b.modelDir} " +
        s"(fromCache=${b.fromCache}) is not a registry hit with a loadable, finite model"))
      val short = 2L * machines * rounds - failedOps - cold.size - redeployed.size
      if (short != 0) Run.log(s"fleet_build: $short builds returned no result")
      badCold.size + badRedeploy.size + math.max(0L, short)
    }

    def release(): Unit = ()
  }
}

object FleetBuild {
  private[gbench] def num(meta: Map[String, Any], group: String, key: String): Double =
    meta(group).asInstanceOf[Map[String, Any]](key).toString.toDouble

  /** The model dir loads and every threshold is finite. */
  def loadsFinite(dir: String): Boolean =
    scala.util.Try {
      val th = Persistence.loadFull(dir)._1.thresholds
      (th.aggregateThreshold +: th.featureThresholds.values.toSeq).forall(x => !x.isNaN && !x.isInfinite)
    }.getOrElse(false)
}
