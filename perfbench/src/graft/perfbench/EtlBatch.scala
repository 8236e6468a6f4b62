package graft.perfbench

import graft.io.Sinks.SolrEnv
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `etl_batch`: seeded Kafka-envelope records through the `cloudsolr`
  * morphline into a counting Solr sender, one full pass per iteration.
  *
  * Why: the time goes to per-record JSON parsing, timestamp formatting,
  * hashing and the sink's row-to-document conversion. There is no
  * shuffle, no state and little planning, so `ops` and `io` changes show
  * here and `streaming`/`dedup` changes must not.
  */
final class EtlBatch(ctx: Ctx) extends Workload {
  import EtlBatch._
  import Gen.Records

  private val input = ctx.dir("input").toString
  // truth: the records the morphline must keep
  private val kept = new java.util.BitSet(RecordsPerIter)

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val seed = ctx.seed
    spark.range(0, RecordsPerIter, 1, ctx.nproc * 4).as[Long]
      .mapPartitions(_.map(i => Gen.envelope(seed, i)))
      .write.parquet(input)
    for (i <- 0 until RecordsPerIter) if (!Records.isError(seed, i)) kept.set(i)
  }

  def setup(spark: SparkSession): Prepared = {
    val m = Morphline.compile(ctx, "cloudsolr")
    // staging: the input relation (file listing and footers)
    val in = spark.read.parquet(input)
    in.schema
    new Run(m, in)
  }

  private final class Run(m: Morphline, in: DataFrame) extends Prepared {
    private val pipeline = m.pipeline
    private val noSink = Pipeline(pipeline.id, pipeline.ops.filterNot(_.name == "loadSolr"))

    def measure(trace: Trace, report: Report): Unit = {
      require(SolrEnv.schemaOf(Collection).isEmpty, s"Solr collection $Collection already registered")
      val prevSender = SolrEnv.sender
      val sink = new SolrCounter(ctx.seed, RecordsPerIter)
      SolrEnv.registerSchema(Collection, Records.SolrFields)
      SolrEnv.sender = sink.send
      try body(trace, report, sink)
      finally {
        // reset() drops the schema registered above; nothing else in this
        // JVM registers one
        SolrEnv.reset()
        SolrEnv.sender = prevSender
      }
    }

    /** One pass; returns its wall seconds. */
    private def iteration(trace: Trace, sink: SolrCounter, p: Pipeline,
                          applyMs: ArrayBuffer[Double]): Double = {
      val t0 = System.nanoTime()
      val out = trace.span("pipeline", "Pipeline.apply") { p(in) }
      applyMs += (System.nanoTime() - t0) / 1e6
      trace.span("ops", "run") { out.write.format("noop").mode("overwrite").save() }
      Main.secs(t0)
    }

    private def checked(report: Report, sink: SolrCounter): Unit = {
      report.check(RecordsPerIter,
        sink.seen.errors(i => kept.get(i.toInt)) + sink.mismatches.getAndSet(0))
      sink.seen.clear()
    }

    private def body(trace: Trace, report: Report, sink: SolrCounter): Unit = {
      report.put("first_run_s", iteration(trace, sink, pipeline, ArrayBuffer.empty))
      checked(report, sink)
      // the next pass still runs JIT-cold code paths; checked, not timed
      iteration(trace, sink, pipeline, ArrayBuffer.empty)
      checked(report, sink)
      val until = System.nanoTime() + ctx.seconds * 1000000000L
      if (ctx.args.trace) traced(trace, report, sink, until)
      else {
        val walls, p50, p90 = ArrayBuffer.empty[Double]
        var batches = 0
        while (walls.size < MinIters || Window.more(walls, until)) {
          sink.latencies.clear()
          walls += iteration(trace, sink, pipeline, ArrayBuffer.empty)
          checked(report, sink)
          // each pass's percentiles (about 500 batches), then their median
          // over the passes, so one disturbed pass does not set the tail
          val lat = sink.latencies.asScala.map(_.doubleValue).toSeq
          p50 += Stats.median(lat); p90 += Stats.pct(lat, 90); batches += lat.size
        }
        report.put("throughput_rps", RecordsPerIter / Stats.median(walls.toSeq))
        report.put("latency_ms_p50", Stats.median(p50.toSeq))
        report.put("latency_ms_p90", Stats.median(p90.toSeq))
        Main.log(s"etl_batch: ${walls.size} warm iterations of $RecordsPerIter records; " +
          s"walls ${walls.map(w => f"$w%.3f").mkString(" ")}; $batches sink batch latencies")
      }
    }

    /** Rounds of an untraced pass, a traced pass, a pass without the sink
      * and a scan-only pass, interleaved so that the tracing overhead and
      * the two ablations see the same JVM warm-up. */
    private def traced(trace: Trace, report: Report, sink: SolrCounter, until: Long): Unit = {
      val plain, tWall, tApply, noSinkWall, scanWall = ArrayBuffer.empty[Double]
      var sends, sent, bytes = 0L
      while (plain.size < MinRounds || System.nanoTime() < until) {
        plain += iteration(trace, sink, pipeline, ArrayBuffer.empty)
        checked(report, sink)
        val (s0, r0, b0) = (sink.sends.get, sink.records.get, sink.bytes.get)
        trace.enable()
        trace.iter = tWall.size
        tWall += trace.span("bench", "iteration") { iteration(trace, sink, pipeline, tApply) }
        trace.disable()
        sends += sink.sends.get - s0; sent += sink.records.get - r0; bytes += sink.bytes.get - b0
        checked(report, sink)
        noSinkWall += iteration(trace, sink, noSink, ArrayBuffer.empty)
        val t0 = System.nanoTime()
        in.write.format("noop").mode("overwrite").save()
        scanWall += Main.secs(t0)
      }
      val self = trace.selfMs()
      val counts = trace.counts.synchronized(trace.counts.toMap.withDefaultValue(0.0))
      val iters = tWall.size.toDouble
      val full = Stats.median(tWall.toSeq) * 1000
      val noSinkMs = Stats.median(noSinkWall.toSeq) * 1000
      val scanMs = Stats.median(scanWall.toSeq) * 1000
      val sinkMs = math.max(0.0, full - noSinkMs)
      val opsMs = math.max(0.0, noSinkMs - scanMs)
      Morphline.putLayer(report, ctx, m)
      report.put("pipeline.apply_ms", Stats.median(tApply.toSeq))
      report.put("pipeline.ops", pipeline.ops.size)
      report.put("ops.scan_only_ms", scanMs)
      report.put("ops.self_ms", opsMs)
      report.put("io.sink_ms", sinkMs)
      report.put("ops.records_in", RecordsPerIter)
      report.put("ops.records_out", sent / iters)
      report.put("ops.kept_frac", sent / iters / RecordsPerIter)
      report.put("ops.cpu_ns_per_record", counts("exec.task_cpu_ms") * 1e6 / (iters * RecordsPerIter))
      report.put("io.sends", sends / iters)
      report.put("io.records_sent", sent / iters)
      report.put("io.bytes_sent", bytes / iters)
      report.put("io.records_per_send", sent.toDouble / math.max(1L, sends))
      Layers.putExec(report, counts, iters, tWall.sum * 1000, ctx.nproc)
      Layers.putPlan(report, counts, iters)
      // the run span mixes scan, morphline ops and sink: split it by the ablations
      val run = self.getOrElse("ops", 0.0)
      Layers.putSelf(report, self + ("ops" -> run * opsMs / full) + ("io" -> run * sinkMs / full) +
        ("exec" -> (self.getOrElse("exec", 0.0) + run * math.min(scanMs, full) / full)),
        tWall.sum * 1000)
      val untraced = Stats.median(plain.toSeq)
      report.put("trace.overhead_frac", (full / 1000 - untraced) / (full / 1000))
    }

    def close(): Unit = ()
  }
}

object EtlBatch {
  /** Records per iteration (the stated input size of throughput_rps). */
  val RecordsPerIter = 300000
  val MinIters = 5
  val MinRounds = 2
  val Collection = "perfbench_docs"
  /** Every this many doc ids, the sink compares the whole document. */
  val SampleEvery = 16

  /** Counting Solr sender: marks every document's record id for the
    * exactly-once check and compares a fixed sample of documents field by
    * field with the generator's expected document. */
  final class SolrCounter(seed: Long, n: Long) extends CountingSink(n) {
    /** Per sink batch after a task's first: ms since the same task's
      * previous batch, the time one batch takes through the morphline and
      * the sink. */
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
    private val lastSend = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]

    val send: (String, Seq[Map[String, Any]]) => Unit = (collection, docs) => {
      if (collection != Collection) mismatches.addAndGet(docs.size)
      var b = 0L
      docs.foreach { d =>
        d.valuesIterator.foreach {
          case s: String => b += s.length
          case _ => b += 8
        }
        d.get("doc_id") match {
          case Some(id: java.lang.Long) =>
            seen.mark(id)
            if (id % SampleEvery == 0 && d != Gen.Records.expectedDoc(seed, id))
              mismatches.incrementAndGet()
          case _ => mismatches.incrementAndGet()
        }
      }
      counted(docs.size, b)
      val now = System.nanoTime()
      Option(org.apache.spark.TaskContext.get()).foreach { task =>
        val prev = lastSend.put(task.taskAttemptId(), now)
        if (prev != null) latencies.add((now - prev) / 1e6)
      }
    }
  }
}

/** Per-layer figures shared by the workloads. */
object Layers {
  /** exec.* counts per unit of work; busy_frac over `wallMs` of the window. */
  def putExec(report: Report, c: Map[String, Double], units: Double, wallMs: Double,
              nproc: Int): Unit = {
    Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
      "exec.gc_ms", "exec.deser_ms", "exec.sched_delay_ms", "exec.job_gap_ms",
      "exec.input_bytes", "exec.input_records", "exec.shuffle_write_bytes",
      "exec.shuffle_read_bytes", "exec.fetch_wait_ms", "exec.spill_bytes")
      .foreach(k => report.put(k, c(k) / units))
    report.put("exec.busy_frac", c("exec.task_run_ms") / (wallMs * nproc))
  }

  def putPlan(report: Report, c: Map[String, Double], units: Double): Unit =
    Seq("plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms", "plan.actions")
      .foreach(k => report.put(k, c(k) / units))

  /** self.<layer>_frac: each layer's self time as a share of the traced wall. */
  def putSelf(report: Report, selfMs: Map[String, Double], wallMs: Double): Unit =
    Metrics.Layers.foreach(l => report.put(s"self.${l}_frac", selfMs.getOrElse(l, 0.0) / wallMs))
}
