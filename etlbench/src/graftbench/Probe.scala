package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark work booked to one owner: a span or an op. */
final class Work {
  var jobs = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var bytesRead = 0L
  var filesRead = 0L
  var filesWritten = 0L
  /** [start, end] of each finished job, epoch ms. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** The benchmark's SparkListener. The client thread names the open op and
  * span in two local properties; every job inherits them, including jobs the
  * engine submits from its own helper threads inside a call, and its stages
  * and tasks are booked through the job. Files read and written come from the
  * SQL driver metrics ("number of files read", "number of written files"),
  * resolved to an owner through the job's SQL execution id.
  */
final class Books extends SparkListener {
  import Books._

  private case class Owner(span: Long, op: Int)
  private val spans = mutable.Map[Long, Work]()
  private val ops = mutable.Map[Int, Work]()
  private val jobOwner = mutable.Map[Int, (Owner, Long)]()
  private val stageOwner = mutable.Map[Int, Owner]()
  private val execOwner = mutable.Map[Long, Owner]()
  private val driverAccums = mutable.Map[Long, mutable.ArrayBuffer[(Long, Long)]]()
  private val fileMetric = mutable.Map[Long, Boolean]() // accumulator id -> is "read"
  private var handlerNs = 0L

  private def works(o: Owner): Seq[Work] =
    (if (o.span >= 0) Seq(spans.getOrElseUpdate(o.span, new Work)) else Nil) ++
      (if (o.op >= 0) Seq(ops.getOrElseUpdate(o.op, new Work)) else Nil)

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    try body catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[etlbench] listener: $e") }
    handlerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val o = Owner(prop(SpanKey).fold(-1L)(_.toLong), prop(OpKey).fold(-1)(_.toInt))
    jobOwner(e.jobId) = (o, e.time)
    e.stageIds.foreach(stageOwner(_) = o)
    prop("spark.sql.execution.id").foreach(id => execOwner.getOrElseUpdate(id.toLong, o))
    works(o).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobOwner.remove(e.jobId).foreach { case (o, start) =>
      works(o).foreach(_.jobIntervals += ((start, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (o <- stageOwner.get(e.stageId); w <- works(o)) {
      w.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.bytesWritten += m.outputMetrics.bytesWritten
        w.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed(nameFileMetrics(s.sparkPlanInfo))
    case s: SparkListenerSQLAdaptiveExecutionUpdate => timed(nameFileMetrics(s.sparkPlanInfo))
    case s: SparkListenerDriverAccumUpdates => timed {
      driverAccums.getOrElseUpdate(s.executionId, mutable.ArrayBuffer()) ++= s.accumUpdates
    }
    case _ =>
  }

  private def nameFileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.foreach { m =>
      if (m.name == FilesRead) fileMetric(m.accumulatorId) = true
      else if (m.name == FilesWritten) fileMetric(m.accumulatorId) = false
    }
    p.children.foreach(nameFileMetrics)
  }

  /** Attributes the buffered file counts; call once, after the bus drains. */
  def settle(): Unit = synchronized {
    for ((exec, updates) <- driverAccums; o <- execOwner.get(exec).toSeq;
         (id, v) <- updates; read <- fileMetric.get(id); w <- works(o)) {
      if (read) w.filesRead += v else w.filesWritten += v
    }
    driverAccums.clear()
  }

  def span(id: Long): Work = synchronized(spans.getOrElse(id, new Work))
  def op(i: Int): Work = synchronized(ops.getOrElse(i, new Work))
  def listenerMs: Double = synchronized(handlerNs / 1e6)
}

object Books {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"
  val FilesRead = "number of files read"
  val FilesWritten = "number of written files"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}

/** One recorded span: a call into one engine module, or one whole op. */
final case class Span(id: Long, name: String, parent: Long, op: Int,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Opens ops and spans on the client thread. Untraced, only the op property
  * is set (the listener books write bytes per op for write_amp); traced, every
  * span is recorded and named to the listener too.
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 0L
  private var bookkeepingNs = 0L

  def op[T](i: Int)(body: => T): T = {
    sc.setLocalProperty(Books.OpKey, i.toString)
    try open("op", i)(body) finally sc.setLocalProperty(Books.OpKey, null)
  }

  def span[T](name: String)(body: => T): T =
    open(name, stack.headOption.fold(-1)(_.op))(body)

  private def open[T](name: String, op: Int)(body: => T): T =
    if (!traced) body
    else {
      val t0 = System.nanoTime()
      nextId += 1
      val s = Span(nextId, name, stack.headOption.fold(-1L)(_.id), op,
        System.currentTimeMillis(), System.nanoTime())
      stack = s :: stack
      sc.setLocalProperty(Books.SpanKey, s.id.toString)
      bookkeepingNs += System.nanoTime() - t0
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Books.SpanKey, stack.headOption.map(_.id.toString).orNull)
        spans += s
        bookkeepingNs += System.nanoTime() - s.endNs
      }
    }

  def bookkeepingMs: Double = bookkeepingNs / 1e6
}

/** Process and machine counters sampled around the timed phase. Steal and
  * stall describe the box, not the program: they are reported with every run
  * and never used to drop, retry or pick runs.
  */
final class Env {
  @volatile private var running = true
  @volatile private var stallNs = 0L
  private val StallTickMs = 10L
  private val StallSlackNs = 5000000L
  private val heartbeat = new Thread(() => {
    while (running) {
      val t0 = System.nanoTime()
      Thread.sleep(StallTickMs)
      val over = System.nanoTime() - t0 - StallTickMs * 1000000L
      if (over > StallSlackNs) stallNs += over
    }
  }, "etlbench-heartbeat")
  heartbeat.setDaemon(true)
  heartbeat.start()

  /** Machine-wide steal time from /proc/stat, ms (0 where unavailable). */
  def stealMs: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong * 10L
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }

  def stallMs: Double = stallNs / 1e6
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }
  def stop(): Unit = { running = false; heartbeat.join() }

  /** Counters at one instant, to subtract phase start from phase end. */
  def snapshot(): Map[String, Double] = Map(
    "steal_ms" -> stealMs.toDouble, "stall_ms" -> stallMs,
    "gc_ms" -> gcMs.toDouble, "cpu_ms" -> cpuMs,
    "wall_ms" -> System.nanoTime() / 1e6)
}
