package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `id` is shared by the spans of one operation: the
  * query name, the micro-batch id or the pipeline stage name. */
final case class Span(name: String, id: String, parent: String, startNs: Long, endNs: Long)

/** Local properties the harness sets around each call into the program,
  * so listener events can be attributed to the operation that caused them. */
object Tags {
  val Op = "perfbench.op"       // query name / "replay" / "pipeline" / ...
  val Phase = "perfbench.phase" // "build" | "run" | "check"
}

/** Spark job/stage/task facts collected by [[Trace]]'s listener. */
final case class JobRec(id: Int, op: String, phase: String, startMs: Long,
                        var endMs: Long, resultStage: Int)
final case class TaskRec(stageId: Int, op: String, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long, output: Long)

/** In-memory tracing. Spans are kept in memory and written out when the run
  * ends. Spark's public listener APIs are registered only on a traced run,
  * so an untraced run measures the program without them. The GC
  * notification listener behind `heap_peak_mb` is the one hook both runs
  * install. */
final class Trace(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }

  /** Times `body` as a span under the innermost open span of this thread. */
  def span[T](name: String, id: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get().headOption.getOrElse("")
      val self = if (id.isEmpty) name else s"$name:$id"
      stack.set(self :: stack.get())
      val s = System.nanoTime()
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(name, id, parent, s - t0, System.nanoTime() - t0))
      }
    }

  def record(name: String, id: String, parent: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(name, id, parent, startNs - t0, endNs - t0))

  // ---------------------------------------------------------------- Spark
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val stagesDone = new AtomicLong()
  // planner phases, summed over every Dataset action on the session
  val analysisMs = new AtomicLong()
  val optimizerMs = new AtomicLong()
  val planningMs = new AtomicLong()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Wall intervals (epoch ms) of the measured operations, by op tag. */
  val ops = new ConcurrentLinkedQueue[(String, Long, Long)]()

  /** Runs `body` with its Spark jobs tagged `op`/`phase`, as a span. */
  def op[T](spark: SparkSession, name: String, id: String, tag: String, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tags.Op, tag)
    sc.setLocalProperty(Tags.Phase, phase)
    val s = System.currentTimeMillis()
    try span(name, id)(body)
    finally {
      if (enabled) ops.add((tag + "/" + phase, s, System.currentTimeMillis()))
      sc.setLocalProperty(Tags.Op, null)
      sc.setLocalProperty(Tags.Phase, null)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(Tags.Op))).getOrElse("")
      val phase = p.flatMap(x => Option(x.getProperty(Tags.Phase))).getOrElse("")
      e.stageIds.foreach(s => stageOp.put(s, op))
      val jobRec = JobRec(e.jobId, op, phase, e.time, -1L, e.stageIds.max)
      jobs.add(jobRec)
      byId.put(e.jobId, jobRec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byId.remove(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stagesDone.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, stageOp.getOrDefault(e.stageId, ""),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
  }
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analysisMs.addAndGet(p.durationMs))
      ph.get("optimization").foreach(p => optimizerMs.addAndGet(p.durationMs))
      ph.get("planning").foreach(p => planningMs.addAndGet(p.durationMs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress); ()
    }
  }

  /** Registers the Spark listeners on `spark` (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Forgets everything recorded so far: warm-up and set-up do not count. */
  def resetCounters(): Unit = {
    jobs.clear(); tasks.clear(); ops.clear(); stagesDone.set(0); progress.clear()
    analysisMs.set(0); optimizerMs.set(0); planningMs.set(0)
  }

  // ------------------------------------------------------------------ JVM
  /** Old-generation occupancy after each collection, young and mixed ones
    * included, as (collection start in ms of JVM uptime, bytes), from GC
    * notifications. [[oldPeakBetween]] reads the peak over a window. */
  private val oldAfterGc = new ConcurrentLinkedQueue[(Long, Long)]()
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if isOld(pool) => u.getUsed
        }.sum
        oldAfterGc.add((info.getGcInfo.getStartTime, old)); ()
      }
  }
  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ => ()
  }
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Peak old-generation occupancy after the collections that started in
    * [fromMs, toMs] of JVM uptime; the occupancy at the call when none did. */
  def oldPeakBetween(fromMs: Long, toMs: Long): Long = {
    val in = oldAfterGc.asScala.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2)
    if (in.nonEmpty) in.max
    else ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .map(_.getUsage.getUsed).sum
  }

  /** Old-generation occupancy after its most recent collection, read
    * synchronously (notifications arrive on their own thread). */
  def oldAfterLastGc: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => isOld(p.getName))
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  // --------------------------------------------------------------- output
  def spansJson: String = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
    Json.obj(Seq("name" -> Json.str(s.name), "id" -> Json.str(s.id),
      "parent" -> Json.str(s.parent), "start_ms" -> Json.num(s.startNs / 1e6),
      "end_ms" -> Json.num(s.endNs / 1e6)))
  }.mkString("[", ",", "]")

  /** Spark jobs as spans under the operation that started them. */
  def recordJobSpans(): Unit = if (enabled) {
    val base = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000L
    jobs.asScala.filter(_.endMs > 0).foreach { j =>
      spans.add(Span("spark.job", j.id.toString, j.op,
        (j.startMs - base) * 1000000L, (j.endMs - base) * 1000000L))
    }
  }
}

/** Minimal JSON rendering for the result line and the artifact. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Sample statistics shared by the workloads. */
object Stats {
  /** Linear-interpolated percentile, q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (s.size - 1) * q / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Mutable bag of named per-layer values. */
final class Layers {
  val values = mutable.LinkedHashMap.empty[String, Double]
  def update(k: String, v: Double): Unit = values(k) = v
}
