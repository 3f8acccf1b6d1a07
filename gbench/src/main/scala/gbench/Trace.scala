package gbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans the benchmark records around its own calls into the library.
  * A disabled tracer runs the body and records nothing. Spans stay in
  * memory; [[write]] puts them out as JSON lines when the run ends. */
final class Tracer(val on: Boolean) {
  import Tracer.Span
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val parent = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val up = parent.get()
      parent.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, up, name, Thread.currentThread.getName, t0, System.nanoTime()))
        parent.set(up)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Durations in ms of every span named `name`. */
  def ms(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map(s => Json.render(
      scala.collection.immutable.ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "thread" -> s.thread,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.asJava): Unit
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, thread: String,
                        startNs: Long, endNs: Long)
  val off = new Tracer(false)
}

/** Scheduler-side counts for the traced phase: jobs, stages, tasks,
  * executor run time, shuffle, spill and GC, each job charged to the
  * library module of the innermost `graft.<module>` frame in its call
  * site. A job without such a frame inherits the module of an earlier
  * job of the same SQL execution (broadcasts and AQE stages run on
  * other threads), else it is charged to `caller` — the benchmark's own
  * actions. */
final class SparkTrace extends SparkListener {
  final class Acc {
    var jobs = 0L; var taskMs = 0L
  }
  val modules: mutable.Map[String, Acc] = mutable.Map.empty
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  private val stageModule = mutable.Map.empty[Int, String]
  private val execModule = mutable.Map.empty[String, String]

  /** Every listener call runs on the bus thread; readers drain the bus
    * first. A SQL execution's start event carries the call site of the
    * action that ran it; AQE submits that execution's stages from its
    * own threads, so its jobs are charged by the execution's call site
    * when their own has no library frame. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      SparkTrace.moduleOf(x.details).foreach(m => synchronized(execModule(x.executionId.toString) = m))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id")))
    val module = SparkTrace.moduleOf(details)
      .orElse(exec.flatMap(execModule.get)).getOrElse("caller")
    modules.getOrElseUpdate(module, new Acc).jobs += 1
    e.stageIds.foreach(s => stageModule.getOrElseUpdate(s, module))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      modules.getOrElseUpdate(stageModule.getOrElse(e.stageId, "caller"),
        new Acc).taskMs += m.executorRunTime
    }
  }

  def moduleJobs(m: String): Long = synchronized(modules.get(m).map(_.jobs).getOrElse(0L))
  def moduleTaskS(m: String): Double =
    synchronized(modules.get(m).map(_.taskMs).getOrElse(0L) / 1e3)
}

object SparkTrace {
  private val Frame = """graft\.(Tables|config|data|ml|build|streaming|llm|functions)[.$]""".r

  /** The library module of the innermost `graft.<module>` frame. */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.flatMap(l => Frame.findFirstMatchIn(l)).map(_.group(1) match {
      case "Tables" => "data"
      case "functions" => "llm"
      case m => m
    }).nextOption()

  /** Registers a fresh listener for `body` and removes it afterwards,
    * once the bus has delivered every event `body` caused. */
  def around[T](sc: SparkContext, on: Boolean)(body: => T): (T, Option[SparkTrace]) =
    if (!on) (body, None)
    else {
      val t = new SparkTrace
      sc.addSparkListener(t)
      try {
        val r = body
        org.apache.spark.BusDrain(sc)
        (r, Some(t))
      } finally sc.removeSparkListener(t)
    }
}

/** Micro-batch progress of every streaming query while registered. */
final class StreamTrace extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress): Unit
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Samples the storage the session holds in cached blocks (RDD and
  * Dataset persists, checkpoints) every 50 ms while running. */
final class StoragePeak(sc: SparkContext) extends AutoCloseable {
  @volatile private var running = true
  @volatile var peakBytes = 0L
  private val th = new Thread(() => {
    while (running) {
      peakBytes = math.max(peakBytes, StoragePeak.heldBytes(sc))
      Thread.sleep(50)
    }
  }, "gbench-storage-sampler")
  th.setDaemon(true)
  th.start()
  def close(): Unit = { running = false; th.join() }
}

object StoragePeak {
  def heldBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
