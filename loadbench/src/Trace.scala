package loadbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds; `parent` is the id of
  * the span that caused it (0 = none). A `direct` span was measured in a
  * separate call with the op's inputs, so it has a duration but no place
  * inside its parent's interval. */
final case class Span(id: Long, parent: Long, name: String, t0: Long, t1: Long,
                      direct: Boolean = false) {
  def toJson: Map[String, Any] =
    Map("id" -> id, "parent" -> parent, "name" -> name, "t0" -> t0,
      "t1" -> t1, "direct" -> direct)
}

/** Epoch-nanosecond clock that agrees with Spark's epoch-millisecond event
  * times and is monotonic within the run. */
object Clock {
  private val wall0 = System.currentTimeMillis() * 1000000L
  private val mono0 = System.nanoTime()
  def now(): Long = wall0 + (System.nanoTime() - mono0)
  def ms(epochMs: Long): Long = epochMs * 1000000L
}

/** A finished client operation of a workload. */
final case class Op(id: Long, cls: String, t0: Long, t1: Long, ok: Boolean,
                    status: Int, resultRows: Long, path: String = "",
                    note: Map[String, Any] = Map.empty) {
  def ms: Double = (t1 - t0) / 1e6
}

/** Listener-side counters and spans for the traced run. Nothing here is
  * registered when tracing is off, and in a traced run every callback
  * returns at once outside the traced window, so the untraced windows
  * beside it carry no listener work. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(1L)
  def nextId(): Long = ids.getAndIncrement()

  val spans = new ConcurrentLinkedQueue[Span]()
  /** Raw Spark job / phase / drive intervals; parents are assigned after
    * the run, once every op interval is known. */
  final case class Raw(kind: String, t0: Long, t1: Long, desc: String,
                       stageSpans: Seq[(String, Long, Long)], cpuNs: Long)
  val raws = new ConcurrentLinkedQueue[Raw]()

  // window gate: events are recorded only while `on`, and phase times only
  // when the phase ran after it was switched on (a re-executed Dataset
  // reports the phase times of its first planning). Callers drain the bus
  // before switching it off, so a job started in the window also ends in it.
  @volatile private var onSince = Long.MaxValue
  @volatile private var gate = false
  def on: Boolean = gate
  def on_=(v: Boolean): Unit = { if (v) onSince = Clock.now(); gate = v }

  object Totals {
    val jobs, stages, tasks = new AtomicLong
    val runMs, cpuNs, gcMs, waitMs = new AtomicLong
    val inBytes, inRows, shufBytes, spillBytes, outBytes, outRows = new AtomicLong
    val drivePlanningMs, driveWalMs, driveAddBatchMs = new AtomicLong
    val analysisMs, optimizationMs, planningMs, executions = new DoubleAdder
  }

  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageCpu = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
  private final case class JobInfo(t0Ms: Long, desc: String, stageIds: Seq[Int])
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(e.jobId, JobInfo(e.time, desc, e.stageIds))
      Totals.jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.remove(e.jobId)
      if (j != null) {
        val st = j.stageIds.flatMap(s => Option(stageTimes.remove(s)).map {
          case (a, b, n) => (n, a, b) })
        val cpu = j.stageIds.flatMap(s => Option(stageCpu.remove(s)).map(_.get)).sum
        raws.add(Raw("spark.job", Clock.ms(j.t0Ms), Clock.ms(e.time), j.desc, st, cpu))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
      Totals.stages.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stageTimes.put(i.stageId, (Clock.ms(a), Clock.ms(b), s"spark.stage"))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val m = e.taskMetrics
      if (m != null) {
        stageCpu.computeIfAbsent(e.stageId, _ => new AtomicLong).addAndGet(m.executorCpuTime)
        Totals.tasks.incrementAndGet()
        Totals.runMs.addAndGet(m.executorRunTime)
        Totals.cpuNs.addAndGet(m.executorCpuTime)
        Totals.gcMs.addAndGet(m.jvmGCTime)
        Totals.inBytes.addAndGet(m.inputMetrics.bytesRead)
        Totals.inRows.addAndGet(m.inputMetrics.recordsRead)
        Totals.shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        Totals.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        Totals.outBytes.addAndGet(m.outputMetrics.bytesWritten)
        Totals.outRows.addAndGet(m.outputMetrics.recordsWritten)
        val sub = stageSubmit.get(e.stageId)
        if (sub != null) Totals.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
      }
    }
  }

  private[loadbench] def onExecution(qe: QueryExecution, funcName: String): Unit = if (on) {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach { s =>
        raws.add(Raw("spark." + p, Clock.ms(s.startTimeMs), Clock.ms(s.endTimeMs), funcName, Nil, 0L))
        if (Clock.ms(s.startTimeMs) >= onSince) {
          val d = (s.endTimeMs - s.startTimeMs).toDouble
          p match {
            case "analysis" => Totals.analysisMs.add(d)
            case "optimization" => Totals.optimizationMs.add(d)
            case _ => Totals.planningMs.add(d)
          }
        }
      }
    }
    Totals.executions.add(1)
  }

  private[loadbench] def onProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Totals.drivePlanningMs.addAndGet(d.getOrElse("queryPlanning", 0L))
    Totals.driveWalMs.addAndGet(d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))
    Totals.driveAddBatchMs.addAndGet(d.getOrElse("addBatch", 0L))
  }

  /** Listen to the SparkContext and, through [[QeForward]] and
    * [[StreamForward]] (named in the session's static listener confs, so
    * every session the engine derives carries them), to every session. */
  def register(): Unit = {
    Tracer.current = this
    spark.sparkContext.addSparkListener(sparkListener)
  }

  /** Spark delivers listener events on an asynchronous bus; wait for it to
    * empty before reading counters (waitUntilEmpty is public in bytecode). */
  def drain(): Unit = Tracer.drainBus(spark)

  /** Attach each raw interval to the op that caused it and emit the span
    * list: ops, Spark jobs with their stages, and Catalyst phases. A raw
    * interval belongs to the op whose interval contains its start; among
    * concurrent ops, one whose request path matches the job description
    * wins, then the earliest started. With `shareJobs`, a job is attached
    * to every op it overlaps: a group-committed flush serves all the posts
    * waiting on it, and a post also waits behind the flush before it. */
  def assemble(ops: Seq[Op], shareJobs: Boolean): Seq[Span] = {
    val sorted = ops.sortBy(_.t0).toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[Span]
    sorted.foreach(o => out += Span(o.id, 0L, "op." + o.cls, o.t0, o.t1))
    raws.asScala.foreach { r =>
      val parents =
        if (shareJobs) sorted.filter(o => r.t0 < o.t1 && r.t1 > o.t0).toSeq
        else {
          val active = sorted.filter(o => o.t0 <= r.t0 && r.t0 < o.t1)
          active.find(o => r.desc.nonEmpty && o.path == r.desc).orElse(active.headOption).toSeq
        }
      parents.foreach { p =>
        val id = nextId()
        out += Span(id, p.id, r.kind, r.t0, r.t1)
        r.stageSpans.foreach { case (n, a, b) => out += Span(nextId(), id, n, a, b) }
      }
    }
    out.toSeq ++ spans.asScala
  }

  /** CPU nanoseconds of the Spark jobs that started inside [t0, t1). */
  def jobCpuNs(t0: Long, t1: Long): Long =
    raws.asScala.iterator.filter(r => r.kind == "spark.job" && r.t0 >= t0 && r.t0 < t1).map(_.cpuNs).sum
}

object Tracer {
  @volatile var current: Tracer = null

  /** Static session confs that attach the forwarding listeners. */
  val sessionConfs: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[QeForward].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamForward].getName)

  def drainBus(spark: SparkSession): Unit = try {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  } catch { case _: Exception => Thread.sleep(50) }
}

/** Forwards Catalyst phase timings of every session to [[Tracer.current]]. */
class QeForward extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Tracer.current).foreach(_.onExecution(qe, funcName))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Forwards streaming progress of every session to [[Tracer.current]]. */
class StreamForward extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Tracer.current).foreach(_.onProgress(e))
}
