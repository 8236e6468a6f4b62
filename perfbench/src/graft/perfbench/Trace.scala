package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans around the benchmark's calls into each layer, plus the
  * benchmark's own Spark, query-execution and streaming listeners, which
  * count at the same boundaries. Everything is kept in memory and read at
  * the end of the run. Tracing is off until [[enable]]: then [[span]] only
  * runs its body and no listener is installed, so an untraced stretch of a
  * run pays nothing for it.
  *
  * Self time: a span's duration minus its child spans, minus the planning
  * phases (QueryPlanningTracker intervals) that fall inside it, minus the
  * scheduling time of the jobs it started (job wall time during which no
  * task of the job ran, plus per-task scheduler delay and deserialization
  * over the core count). Planning is credited to `plan`, scheduling to
  * `exec`.
  */
final class Trace(spark: SparkSession, nproc: Int) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  @volatile var iter: Int = 0
  @volatile private var on = false

  /** Counts from the listeners and from the workload, by metric name. */
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = counts.synchronized { counts(name) += v }

  // per span id: scheduling ms (job gaps + task overhead over cores)
  private val spanSched = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
  private val spanJobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prevProp)
        spans.synchronized {
          spans += Span(id, layer, name, parent, iter, t0, t1, System.currentTimeMillis() - (t1 - t0) / 1000000)
        }
      }
    }

  private object ExecListener extends SparkListener {
    private final class Job(val span: Int, val start: Long, val stages: Set[Int]) {
      val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    private val jobs = mutable.Map.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      jobs(e.jobId) = new Job(span, e.time, e.stageIds.toSet)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      spanJobs.synchronized { spanJobs(span) += 1 }
      add("exec.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      add("exec.tasks", 1)
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.deser_ms", m.executorDeserializeTime)
        add("exec.input_bytes", m.inputMetrics.bytesRead)
        add("exec.input_records", m.inputMetrics.recordsRead)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("exec.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        add("exec.sched_delay_ms", delay)
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.intervals += ((info.launchTime, info.finishTime))
          spanSched.synchronized {
            spanSched(j.span) += (delay + m.executorDeserializeTime).toDouble / nproc
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.remove(e.jobId).foreach { j =>
      // wall time of the job during which none of its tasks ran
      val iv = j.intervals.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (s, f) =>
        if (s > end) { covered += f - s; end = f }
        else if (f > end) { covered += f - end; end = f }
      }
      val gap = math.max(0L, (e.time - j.start) - covered)
      add("exec.job_gap_ms", gap)
      spanSched.synchronized { spanSched(j.span) += gap.toDouble }
      j.stages.foreach(stageJob.remove)
    }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("plan.actions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.synchronized { phases += ((phase, s.startTimeMs, s.endTimeMs)) }
        phase match {
          case "analysis" => add("plan.analysis_ms", s.durationMs)
          case "optimization" => add("plan.optimizer_ms", s.durationMs)
          case "planning" => add("plan.physical_ms", s.durationMs)
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(ExecListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
    on = true
  }

  def disable(): Unit = if (on) {
    on = false
    drain()
    spark.sparkContext.removeSparkListener(ExecListener)
    spark.listenerManager.unregister(PlanListener)
    spark.streams.removeListener(StreamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def progresses: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.synchronized(progress.toList)

  /** Writes every span as a JSON line: name, layer, start and end (ns on
    * the JVM's monotonic clock), parent span and iteration or trigger. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toList).sortBy(_.t0).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ns" -> s.t0.toString, "end_ns" -> s.t1.toString,
        "parent" -> s.parent.toString, "iter" -> s.iter.toString))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Jobs started directly inside spans of this name. */
  def jobsIn(name: String): Double = {
    drain()
    val ids = spans.synchronized(spans.filter(_.name == name).map(_.id).toSet)
    spanJobs.synchronized(ids.toSeq.map(spanJobs).sum).toDouble
  }

  /** Self time per layer in ms, over all spans recorded so far. */
  def selfMs(): Map[String, Double] = {
    drain()
    val all = spans.synchronized(spans.toList)
    val ph = phases.synchronized(phases.toList)
    val children = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
      val kidMs = kids.map(_.ms).sum
      // planning phases inside this span but not inside one of its children
      val (s0, s1) = (s.wallStartMs, s.wallStartMs + s.ms.toLong)
      def inside(a: Long, b: Long, lo: Long, hi: Long) = a >= lo && b <= hi + 1
      val planMs = ph.collect {
        case (_, a, b) if inside(a, b, s0, s1) &&
          !kids.exists(k => inside(a, b, k.wallStartMs, k.wallStartMs + k.ms.toLong)) =>
          (b - a).toDouble
      }.sum
      val sched = spanSched.synchronized(spanSched(s.id))
      out(s.layer) += math.max(0.0, s.ms - kidMs - planMs - sched)
      out("plan") += planMs
      out("exec") += sched
    }
    out.toMap
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  final case class Span(id: Int, layer: String, name: String, parent: Int, iter: Int,
                        t0: Long, t1: Long, wallStartMs: Long) {
    def ms: Double = (t1 - t0) / 1e6
  }
}
