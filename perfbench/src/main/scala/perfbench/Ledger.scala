package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters, read from Spark's public listener APIs.
  * Every field only grows, so the cost of one operation is the
  * difference of two snapshots taken around it (with the listener bus
  * drained before each snapshot). */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    emptyTasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0,
    gcMs: Long = 0, peakExecMem: Long = 0, spillBytes: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    fetchWaitMs: Long = 0, inputRows: Long = 0, inputBytes: Long = 0,
    outputRows: Long = 0, sqlExecutions: Long = 0,
    analysisMs: Long = 0, optimizeMs: Long = 0, planMs: Long = 0,
    jobBusyMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, emptyTasks - o.emptyTasks,
    cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    // a maximum since the last reset, not a running total
    peakExecMem,
    spillBytes - o.spillBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, fetchWaitMs - o.fetchWaitMs,
    inputRows - o.inputRows, inputBytes - o.inputBytes,
    outputRows - o.outputRows, sqlExecutions - o.sqlExecutions,
    analysisMs - o.analysisMs, optimizeMs - o.optimizeMs,
    planMs - o.planMs, jobBusyMs - o.jobBusyMs)
}

/** One traced interval. Times are epoch microseconds; `op` is the id
  * shared by every span of one operation attempt. */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, op: String)

/** The benchmark's measurement layer. It never reaches into the
  * program: it listens to Spark's scheduler and SQL events and to the
  * JVM's GC notifications, and keeps spans for the code the harness
  * wraps around calls into the program.
  *
  * Spans (the harness's own, and one per job and stage) and the
  * planning phases of each query are kept only when `traced`. */
final class Ledger(spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  @volatile private var c = Counters()
  private def bump(f: Counters => Counters): Unit = synchronized { c = f(c) }

  // ---- spans -----------------------------------------------------------
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs(): Long = t0Us + (System.nanoTime() - t0Nanos) / 1000L
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  private def add(s: Span): Unit = if (traced) synchronized { spanBuf += s }
  def spans: Seq[Span] = synchronized { spanBuf.toList }

  private val openParent = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }

  /** Id of the innermost open span on this thread (0 outside any). */
  def currentSpan: Long = openParent.get()._1

  /** Jobs started so far under span `id` as their job group. */
  def jobsUnder(id: Long): Long =
    Option(jobsByGroup.get(id.toString)).map(_.longValue).getOrElse(0L)

  /** Run `body` inside a span named `name`. Jobs it starts are tagged
    * with the span id as their job group, which links the scheduler's
    * job spans to it. `op` starts a new operation id; nested spans
    * inherit the enclosing one. */
  def span[T](name: String, op: String = null)(body: => T): T = {
    val (parent, parentOp) = openParent.get()
    val id = newId()
    val opId = if (op != null) op else parentOp
    val start = nowUs()
    openParent.set((id, opId))
    spanOp.put(id, opId)
    sc.setJobGroup(id.toString, s"$opId $name", interruptOnCancel = false)
    try body finally {
      add(Span(id, name, start, nowUs(), parent, opId))
      openParent.set((parent, parentOp))
      if (parent == 0L) sc.clearJobGroup()
      else sc.setJobGroup(parent.toString, parentOp, interruptOnCancel = false)
    }
  }

  // ---- scheduler and SQL events ------------------------------------------
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSpanId = new ConcurrentHashMap[Int, java.lang.Long]()
  private val spanOp = new ConcurrentHashMap[Long, String]()
  @volatile private var running = 0
  @volatile private var busySinceMs = 0L
  // jobs started under each job group (a span id); eager jobs of a
  // catalog call are the jobs started under its build span
  private val jobsByGroup = new ConcurrentHashMap[String, java.lang.Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobsByGroup.merge(g, 1L, (a, b) => a + b)
      synchronized {
        if (running == 0) busySinceMs = e.time
        running += 1
      }
      bump(x => x.copy(jobs = x.jobs + 1))
      if (traced) {
        jobStart.put(e.jobId, e.time)
        jobGroup.put(e.jobId, g)
        jobSpanId.put(e.jobId, newId())
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      synchronized {
        running -= 1
        if (running == 0) {
          val busy = math.max(0L, e.time - busySinceMs)
          bump(x => x.copy(jobBusyMs = x.jobBusyMs + busy))
        }
      }
      if (traced) {
        val g = Option(jobGroup.remove(e.jobId)).getOrElse("")
        val parent = scala.util.Try(g.toLong).getOrElse(0L)
        val start = Option(jobStart.remove(e.jobId)).map(_.longValue)
          .getOrElse(e.time)
        add(Span(jobSpanId.get(e.jobId), s"spark.job ${e.jobId}",
          start * 1000L, e.time * 1000L, parent,
          spanOp.getOrDefault(parent, "")))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      bump(x => x.copy(stages = x.stages + 1))
      if (traced) {
        val i = e.stageInfo
        val job = Option(stageJob.get(i.stageId))
        val parent = job.flatMap(j => Option(jobSpanId.get(j)))
          .map(_.longValue).getOrElse(0L)
        val op = job.flatMap(j => Option(jobGroup.get(j)))
          .flatMap(g => scala.util.Try(g.toLong).toOption)
          .map(spanOp.getOrDefault(_, "")).getOrElse("")
        for (s <- i.submissionTime; f <- i.completionTime)
          add(Span(newId(), s"spark.stage ${i.stageId}", s * 1000L,
            f * 1000L, parent, op))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      val read = m.inputMetrics.recordsRead + sr.recordsRead
      val wrote = m.outputMetrics.recordsWritten + sw.recordsWritten
      bump(x => x.copy(
        tasks = x.tasks + 1,
        emptyTasks = x.emptyTasks + (if (read == 0 && wrote == 0) 1 else 0),
        cpuNs = x.cpuNs + m.executorCpuTime,
        runMs = x.runMs + m.executorRunTime,
        gcMs = x.gcMs + m.jvmGCTime,
        peakExecMem = math.max(x.peakExecMem, m.peakExecutionMemory),
        spillBytes = x.spillBytes + m.memoryBytesSpilled +
          m.diskBytesSpilled,
        shuffleWriteBytes = x.shuffleWriteBytes + sw.bytesWritten,
        shuffleReadBytes = x.shuffleReadBytes + sr.totalBytesRead,
        fetchWaitMs = x.fetchWaitMs + sr.fetchWaitTime,
        inputRows = x.inputRows + m.inputMetrics.recordsRead,
        inputBytes = x.inputBytes + m.inputMetrics.bytesRead,
        outputRows = x.outputRows + m.outputMetrics.recordsWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart =>
        bump(x => x.copy(sqlExecutions = x.sqlExecutions + 1))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      bump(x => x.copy(analysisMs = x.analysisMs + ms("analysis"),
        optimizeMs = x.optimizeMs + ms("optimization"),
        planMs = x.planMs + ms("planning")))
    }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  // ---- JVM heap: live heap after each GC ---------------------------------
  @volatile private var heapPeak = 0L
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        if (used > heapPeak) heapPeak = used
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  sc.addSparkListener(listener)
  if (traced) spark.listenerManager.register(qeListener)
  gcBeans.foreach(_.addNotificationListener(gcListener, null, null))

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    synchronized(c)
  }

  /** Restart the task peak-execution-memory maximum. */
  def resetPeakExec(): Unit = bump(_.copy(peakExecMem = 0L))

  /** Restart the heap high-water mark; read it with [[heapPeakBytes]]. */
  def resetHeapPeak(): Unit = heapPeak = 0L

  /** The largest heap in use right after a collection since the last
    * reset. Unlike the raw used-heap figure it does not count garbage
    * the young collector was about to free. A pass with no collection
    * reports the heap in use at its end. */
  def heapPeakBytes(): Long =
    if (heapPeak > 0) heapPeak
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def close(): Unit = {
    gcBeans.foreach(b =>
      scala.util.Try(b.removeNotificationListener(gcListener)))
    sc.removeSparkListener(listener)
    if (traced) spark.listenerManager.unregister(qeListener)
  }
}
