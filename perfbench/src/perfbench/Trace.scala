package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Clock shared by every span: microseconds since the bench main
  * started, on the monotonic clock, so spans from the bench and from
  * Spark's listener (epoch millis) land on one axis. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def nowUs: Long = (System.nanoTime() - nano0) / 1000
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000
}

/** In-memory span store: every span has an id, its parent (0 = root)
  * and the run id shared by the whole invocation. Written at exit. */
final class Spans(val runId: String) {
  private val ids = new AtomicLong(0)
  private val buf = ArrayBuffer.empty[Map[String, Any]]

  def newId(): Long = ids.incrementAndGet()

  def add(id: Long, parent: Long, name: String, layer: String,
      startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty): Unit =
    buf.synchronized {
      buf += Map("id" -> id, "parent" -> parent, "run" -> runId,
        "name" -> name, "layer" -> layer, "start_us" -> startUs,
        "end_us" -> endUs, "attrs" -> attrs)
    }

  /** Time `f` as a span; `f` receives the span id for its children. */
  def span[T](parent: Long, name: String, layer: String)(f: Long => T): T = {
    val id = newId()
    val t0 = Clock.nowUs
    try f(id) finally add(id, parent, name, layer, t0, Clock.nowUs)
  }

  def all: Seq[Map[String, Any]] = buf.synchronized(buf.toVector)
}

/** Job, stage and task events from Spark's public listener bus, turned
  * into `job` and `stage` spans. A job is parented by the span whose id
  * the bench put in the job group (`pb-<id>`); task metrics are summed
  * onto their stage span. */
final class JobTracer(spans: Spans) extends SparkListener {
  private final class Agg {
    var tasks, emptyTasks, runMs, cpuNs, gcMs = 0L
    var shReadB, shWriteB, spillB, resultB, inputRows = 0L
  }
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long)]() // job -> (span, parent, start)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageAgg = new ConcurrentHashMap[(Int, Int), Agg]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)
  private val stagesOpen = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val parent = if (group.startsWith("pb-")) group.drop(3).toLong else 0L
    jobSpan.put(e.jobId, (spans.newId(), parent, Clock.fromEpochMs(e.time)))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobSpan.get(e.jobId)).foreach { case (id, parent, start) =>
      spans.add(id, parent, s"job ${e.jobId}", "exec", start,
        Clock.fromEpochMs(e.time),
        Map("ok" -> (e.jobResult == JobSucceeded)))
    }
    ended.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stagesOpen.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Agg)
      val sr = m.shuffleReadMetrics
      a.synchronized {
        a.tasks += 1
        if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) a.emptyTasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shReadB += sr.remoteBytesRead + sr.localBytesRead
        a.shWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.diskBytesSpilled
        a.resultB += m.resultSize
        a.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val a = Option(stageAgg.remove((info.stageId, info.attemptNumber()))).getOrElse(new Agg)
    val parent = Option(stageJob.get(info.stageId))
      .flatMap(j => Option(jobSpan.get(j))).map(_._1).getOrElse(0L)
    val start = info.submissionTime.map(Clock.fromEpochMs).getOrElse(0L)
    val end = info.completionTime.map(Clock.fromEpochMs).getOrElse(start)
    spans.add(spans.newId(), parent, s"stage ${info.stageId}", "exec", start, end,
      Map("tasks" -> a.tasks, "empty_tasks" -> a.emptyTasks,
        "task_run_ms" -> a.runMs, "task_cpu_ns" -> a.cpuNs, "task_gc_ms" -> a.gcMs,
        "shuffle_read_b" -> a.shReadB, "shuffle_write_b" -> a.shWriteB,
        "spill_b" -> a.spillB, "result_b" -> a.resultB, "input_rows" -> a.inputRows))
    stagesOpen.decrementAndGet()
  }

  /** The listener bus is asynchronous: before the spans are written,
    * wait until every started job has ended and every stage closed. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def quiet = ended.get == started.get && stagesOpen.get <= 0
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(200)
  }
}

/** JVM-level counters read around an operation. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val mem = ManagementFactory.getMemoryMXBean

  def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Full collection, then the heap still in use: what the previous
    * operations left reachable. */
  def retainedHeapMb(): Double = {
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * query execution, from the public `QueryExecutionListener`. Each
  * phase becomes a `planner` span under the bench span that contains
  * it (a build or a write of the batch workload). */
final class PlannerTracer extends org.apache.spark.sql.util.QueryExecutionListener {
  private val phases = ArrayBuffer.empty[(String, Long, Long)]

  private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    phases.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, Clock.fromEpochMs(p.startTimeMs), Clock.fromEpochMs(p.endTimeMs)))
      }
    }

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = record(qe)

  def emit(spans: Spans): Unit = {
    val holders = spans.all.filter(s => s("layer") == "queries" || s("name") == "write")
    phases.synchronized(phases.toVector).foreach { case (name, s, e) =>
      val parent = holders
        .filter(h => h("start_us").asInstanceOf[Long] - 1000 <= s &&
          e <= h("end_us").asInstanceOf[Long] + 1000)
        .sortBy(h => h("end_us").asInstanceOf[Long] - h("start_us").asInstanceOf[Long])
        .headOption.map(_("id").asInstanceOf[Long]).getOrElse(0L)
      spans.add(spans.newId(), parent, name, "planner", s, e)
    }
  }
}

/** Tracing of a batch run that can be switched on and off between
  * passes, so one JVM measures traced and untraced passes alike and
  * their difference is the tracing overhead. */
final class Tracing(spark: org.apache.spark.sql.SparkSession, val spans: Spans) {
  private val jobs = new JobTracer(spans)
  private val planner = new PlannerTracer
  private var on = false

  def set(enabled: Boolean): Unit = if (enabled != on) {
    if (enabled) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(planner)
    } else {
      jobs.drain()
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(planner)
    }
    on = enabled
  }

  def enabled: Boolean = on

  /** Stop listening and place the planner spans; call before writing. */
  def finish(): Unit = { set(false); planner.emit(spans) }
}
