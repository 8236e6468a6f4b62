package graft.perfbench

import graft.io.Sinks.KafkaEnv
import graft.queries.CorpusQueries
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** `connector_stream`: the `connector` morphline as Structured Streaming
  * over StreamingOps.fileSource, with StreamingOps.streamingDedup on the
  * record key ahead of it and a counting Kafka producer at its end.
  *
  * Three phases on one query: a cold first trigger over one file; an open
  * loop, where a generator thread drops one file every 1/[[RateFilesPerS]]
  * s on a fixed schedule whatever the query does; then a closed-loop drain
  * of [[BacklogFiles]] pre-staged files. A share of records are re-sends
  * of recent records (Connect's at-least-once delivery) that the dedup
  * must drop.
  *
  * Why: per-record work is small and the per-trigger fixed cost (offset
  * listing, planning, WAL, state commit) dominates, which is the
  * reference's put()-per-poll runtime. `ops` changes should barely move it.
  */
final class ConnectorStream(ctx: Ctx) extends Workload {
  import ConnectorStream._
  import Gen.Stream

  private val warmFiles = (RateFilesPerS * WarmupS).toInt
  private val timedFiles = math.max(MinTimedFiles, (RateFilesPerS * ctx.seconds * OpenShare).toInt)
  private val openFiles = warmFiles + timedFiles
  private val firstBacklog = 1L + openFiles
  private val totalFiles = firstBacklog + BacklogFiles
  private val backlogDir = ctx.dir("backlog")

  def generate(spark: SparkSession): Unit = {
    Files.createDirectories(backlogDir)
    for (f <- firstBacklog until totalFiles)
      Files.write(backlogDir.resolve(fileName(f)), Stream.fileBytes(ctx.seed, f, 0L))
  }

  def setup(spark: SparkSession): Prepared = {
    val m = Morphline.compile(ctx, "connector")
    // staging: fresh input, spool and checkpoint directories and the
    // analyzed streaming plan
    val in = ctx.dir("in"); val spool = ctx.dir("spool"); val ckpt = ctx.dir("checkpoint")
    Seq(in, spool, ckpt).foreach { d => Main.deleteTree(d); Files.createDirectories(d) }
    val raw = StreamingOps.fileSource(spark, FileSchema, in.toString, "json",
      Map("maxFilesPerTrigger" -> MaxFilesPerTrigger.toString))
      .withColumn("timestamp", timestamp_millis(col("event_ms")))
    val deduped = StreamingOps.streamingDedup(raw, "timestamp", Watermark, Seq("key"))
    val t2 = System.nanoTime()
    val out = m.pipeline(deduped)
    val applyMs = (System.nanoTime() - t2) / 1e6
    out.schema
    new Run(spark, m, out, in, spool, ckpt, applyMs)
  }

  private final class Run(spark: SparkSession, m: Morphline, out: DataFrame,
                          in: Path, spool: Path, ckpt: Path, applyMs: Double) extends Prepared {
    private val pipeline = m.pipeline
    // file id -> wall ms when the sink finished the batch holding it
    private val done = new ConcurrentHashMap[Long, java.lang.Long]()
    private val latencyMs = new ConcurrentHashMap[Long, java.lang.Long]()
    private val dropped = new AtomicLong // files written to the input dir so far
    private val backlogMax = new AtomicLong
    // (nanoTime at the end of each sink batch, files in it, lowest file id)
    private val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long)]
    @volatile private var query: StreamingQuery = null

    /** Drop file f into the input directory atomically (write, then rename). */
    private def drop(f: Long, bytes: Array[Byte]): Unit = {
      val tmp = spool.resolve(fileName(f))
      Files.write(tmp, bytes)
      Files.move(tmp, in.resolve(fileName(f)), StandardCopyOption.ATOMIC_MOVE)
      dropped.incrementAndGet()
    }

    private def awaitFiles(from: Long, until: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      def all = (from until until).forall(done.containsKey)
      while (!all && System.nanoTime() < deadline && query.exception.isEmpty) Thread.sleep(2)
      all
    }

    def measure(trace: Trace, report: Report): Unit = {
      val prevSender = KafkaEnv.sender
      val sink = new KafkaCounter(ctx.seed, totalFiles * Stream.FileRecords)
      KafkaEnv.sender = sink.send
      try body(trace, report, sink)
      finally {
        if (query != null) { query.stop(); query.awaitTermination(30000) }
        KafkaEnv.sender = prevSender
      }
    }

    private def body(trace: Trace, report: Report, sink: KafkaCounter): Unit = {
      val writer: (DataFrame, Long) => Unit = (batch, _) =>
        trace.span("ops", "foreachBatch") {
          // drives the morphline and its producer; (file, stamp) pairs are
          // made distinct within each partition, so no extra shuffle stage
          import batch.sparkSession.implicits._
          val files = batch.select(col("file_id"), col("sent_ms")).as[(Long, Long)]
            .mapPartitions(_.toSet.iterator).collect().toMap
          val now = System.currentTimeMillis()
          if (files.nonEmpty) batches.add((System.nanoTime(), files.size, files.keys.min))
          files.foreach { case (f, sent) => done.put(f, now); latencyMs.put(f, now - sent) }
          backlogMax.accumulateAndGet(dropped.get - done.size, math.max)
        }
      if (ctx.args.trace) trace.enable()
      drop(0, Stream.fileBytes(ctx.seed, 0, System.currentTimeMillis()))
      val t0 = System.nanoTime()
      query = CorpusQueries.startWithStreamConf(spark) {
        out.writeStream.option("checkpointLocation", ckpt.toString)
          .foreachBatch(writer).start()
      }
      if (!awaitFiles(0, 1, 120)) fail("first trigger")
      report.put("first_run_s", Main.secs(t0))

      // open loop: file f is due at start + (f-1)/rate, late or not
      val lateMax = new AtomicLong
      val generator = new Thread(() => {
        val start = System.currentTimeMillis()
        for (f <- 1L to openFiles) {
          val due = start + ((f - 1) * 1000 / RateFilesPerS).toLong
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          drop(f, Stream.fileBytes(ctx.seed, f, due))
          lateMax.accumulateAndGet(System.currentTimeMillis() - due, math.max)
        }
      }, "perfbench-generator")
      generator.start()
      generator.join()
      if (!awaitFiles(1, 1 + openFiles, 60)) fail("open loop")
      // latency of the files after the open loop's warm-up
      val lat = (1L + warmFiles to openFiles).map(f => latencyMs.get(f).toDouble)
      report.put("latency_ms_p50", Stats.median(lat))
      report.put("latency_ms_p90", Stats.pct(lat, 90))

      // Closed-loop drain of the pre-staged backlog. Its rate is the median
      // over the drain's triggers of records over the time since the
      // previous trigger ended (or since the files moved in). A traced run
      // drains half untraced and half traced, for the tracing overhead.
      def drain(from: Long, until: Long): Double = {
        val t1 = System.nanoTime()
        for (f <- from until until)
          Files.move(backlogDir.resolve(fileName(f)), in.resolve(fileName(f)),
            StandardCopyOption.ATOMIC_MOVE)
        dropped.addAndGet(until - from)
        if (!awaitFiles(from, until, 120)) fail("drain")
        val ends = batches.asScala.filter(b => b._3 >= from && b._3 < until).toSeq.sortBy(_._1)
        val starts = t1 +: ends.map(_._1).init
        Stats.median(ends.zip(starts).map { case ((end, n, _), start) =>
          n * Stream.FileRecords / ((end - start) / 1e9)
        })
      }
      // producer counts of the untraced half, kept out of the per-layer figures
      var untracedSent = Array(0L, 0L, 0L, 0L)
      def sent = Array(sink.sends.get, sink.records.get, sink.bytes.get, sink.sendNs.get)
      val rps =
        if (!ctx.args.trace) drain(firstBacklog, totalFiles)
        else {
          val half = firstBacklog + BacklogFiles / 2
          trace.disable()
          val before = sent
          val untraced = drain(firstBacklog, half)
          untracedSent = sent.zip(before).map { case (a, b) => a - b }
          trace.enable()
          val traced = drain(half, totalFiles)
          report.put("trace.overhead_frac", (untraced - traced) / untraced)
          traced
        }
      report.put("throughput_rps", rps)
      Main.log(f"connector_stream: $warmFiles + $timedFiles open-loop files at $RateFilesPerS/s, latency p50 " +
        f"${Stats.median(lat)}%.0f p90 ${Stats.pct(lat, 90)}%.0f ms (${lat.size} files); " +
        f"drain $rps%.0f records/s; generator late by ${lateMax.get} ms at most")

      query.stop()
      query.awaitTermination(30000)
      val failedTriggers = if (query.exception.isDefined) 1L else 0L
      val errors = sink.seen.errors(g => Stream.expected(ctx.seed, g)) + sink.mismatches.get +
        failedTriggers
      report.check(totalFiles * Stream.FileRecords, errors)

      if (ctx.args.trace) {
        val self = trace.selfMs()
        val ps = trace.progresses.filter(_.numInputRows > 0)
        val counts = trace.counts.synchronized(trace.counts.toMap.withDefaultValue(0.0))
        trace.disable()
        val triggers = ps.size.toDouble
        def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
        def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
        val ops = ps.flatMap(_.stateOperators)
        def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0))
        val rowsIn = ps.map(_.numInputRows).sum.toDouble
        Morphline.putLayer(report, ctx, m)
        report.put("pipeline.apply_ms", applyMs)
        report.put("pipeline.ops", pipeline.ops.size)
        report.put("stream.triggers", triggers)
        report.put("stream.records_per_trigger", rowsIn / math.max(1.0, triggers))
        Seq("latest_offset_ms" -> "latestOffset", "get_batch_ms" -> "getBatch",
          "query_planning_ms" -> "queryPlanning", "add_batch_ms" -> "addBatch",
          "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
          "trigger_ms" -> "triggerExecution").foreach { case (m, k) =>
          report.put(s"stream.$m", mean(dur(k)))
        }
        report.put("stream.backlog_files_max", backlogMax.get)
        report.put("stream.gen_late_ms_max", lateMax.get)
        report.put("state.rows_updated", ops.map(_.numRowsUpdated).sum)
        report.put("state.rows_removed", ops.map(_.numRowsRemoved).sum)
        report.put("state.rows_dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark).sum)
        report.put("state.commit_ms", ops.map(_.commitTimeMs).sum)
        report.put("state.memory_bytes", if (ops.isEmpty) 0 else ops.map(_.memoryUsedBytes).max)
        report.put("state.rocksdb_put_count", custom("rocksdbPutCount").sum)
        report.put("state.rocksdb_get_count", custom("rocksdbGetCount").sum)
        report.put("state.rocksdb_file_sync_ms", custom("rocksdbCommitFileSyncLatencyMs").sum)
        report.put("state.rocksdb_checkpoint_ms", custom("rocksdbCommitCheckpointLatency").sum)
        report.put("state.rocksdb_flush_ms", custom("rocksdbCommitFlushLatency").sum)
        report.put("state.rocksdb_load_ms", custom("rocksdbLoadLatencyMs").sum)
        report.put("state.rocksdb_sst_bytes", (0.0 +: custom("rocksdbSstFileSize")).max)
        val hits = custom("rocksdbReadBlockCacheHitCount").sum
        val misses = custom("rocksdbReadBlockCacheMissCount").sum
        report.put("state.rocksdb_block_cache_hit_frac", if (hits + misses > 0) hits / (hits + misses) else 0)
        val Array(sends, records, bytes, sendNs) = sent.zip(untracedSent).map { case (a, b) => a - b }
        report.put("ops.records_in", rowsIn)
        report.put("ops.records_out", records)
        report.put("ops.kept_frac", records / math.max(1.0, rowsIn))
        report.put("ops.cpu_ns_per_record", counts("exec.task_cpu_ms") * 1e6 / math.max(1.0, rowsIn))
        report.put("io.sends", sends)
        report.put("io.records_sent", records)
        report.put("io.bytes_sent", bytes)
        report.put("io.records_per_send", records.toDouble / math.max(1L, sends))
        val wallMs = ps.map(_.batchDuration.toDouble).sum
        Layers.putExec(report, counts, 1, wallMs, ctx.nproc)
        Layers.putPlan(report, counts, 1)
        // The foreachBatch span holds the whole micro-batch execution: the
        // state operator's time (summed over its stores, so divided by the
        // stores that ran at once) goes to `state`, the producer's own busy
        // time to `io`, the rest to `ops`. The trigger's fixed cost outside
        // addBatch is `streaming`, except its planning, which is `plan`.
        val stateMs = ps.map { p =>
          p.stateOperators.map(o => (o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).toDouble /
            math.max(1L, math.min(o.numStateStoreInstances, ctx.nproc.toLong))).sum
        }.sum
        val ioMs = sendNs / 1e6 / ctx.nproc
        val batchMs = self.getOrElse("ops", 0.0)
        val planning = dur("queryPlanning").sum
        val fixed = (dur("triggerExecution") zip dur("addBatch")).map { case (t, a) => t - a }.sum
        val selfMs = self + ("state" -> stateMs) + ("io" -> ioMs) +
          ("ops" -> math.max(0.0, batchMs - stateMs - ioMs)) +
          ("streaming" -> math.max(0.0, fixed - planning)) +
          ("plan" -> (self.getOrElse("plan", 0.0) + planning))
        Layers.putSelf(report, selfMs, wallMs)
      }
    }

    private def fail(phase: String): Nothing =
      throw new IllegalStateException(s"connector_stream: $phase did not finish" +
        query.exception.map(e => s": ${e.getMessage}").getOrElse(""))

    def close(): Unit = if (query != null && query.isActive) query.stop()
  }
}

object ConnectorStream {
  /** Open-loop arrival rate, files per second; below the drain rate at
    * the seed, so the backlog stays bounded. */
  val RateFilesPerS = 10.0
  /** Event-time bound of the streaming dedup on the record key; re-sends
    * arrive well inside it. */
  val Watermark = "3 seconds"
  /** Open-loop seconds before files count for latency: triggers keep
    * getting faster for tens of seconds after the cold one while the JIT
    * warms up, so the timed files start well into that. */
  val WarmupS = 10.0
  /** The timed part of the open loop lasts this many times the run's
    * seconds, and holds at least [[MinTimedFiles]] files, so p90 has ten
    * samples above it. */
  val OpenShare = 1.0
  val MinTimedFiles = 100
  val BacklogFiles = 160
  /** Caps a trigger well above the files the open loop delivers in one
    * second, so a slow trigger does not starve the loop. */
  val MaxFilesPerTrigger = 16

  val FileSchema: StructType = new StructType()
    .add("key", StringType).add("value", StringType).add("topic", StringType)
    .add("partition", IntegerType).add("offset", LongType).add("event_ms", LongType)
    .add("file_id", LongType).add("sent_ms", LongType)

  def fileName(f: Long): String = f"part-$f%06d.json"

  /** Counting Kafka producer: marks each message's record id for the
    * exactly-once check and compares a fixed sample of messages byte for
    * byte with the generator's record. */
  final class KafkaCounter(seed: Long, n: Long) extends CountingSink(n) {
    val sendNs = new AtomicLong
    private val rs = Gen.Stream.recordSeed(seed)

    val send: Seq[(String, Array[Byte], Array[Byte])] => Unit = msgs => {
      val t0 = System.nanoTime()
      var b = 0L
      msgs.foreach { case (topic, key, value) =>
        val id = Gen.Records.idOfValue(value)
        seen.mark(id)
        b += key.length + value.length
        if (topic != "solr-docs") mismatches.incrementAndGet()
        else if (id % EtlBatch.SampleEvery == 0 &&
          !(java.util.Arrays.equals(key, Gen.md5Hex(id.toString).getBytes("UTF-8")) &&
            java.util.Arrays.equals(value, Gen.Records.value(rs, id).getBytes("UTF-8"))))
          mismatches.incrementAndGet()
      }
      counted(msgs.size, b)
      sendNs.addAndGet(System.nanoTime() - t0)
    }
  }
}
