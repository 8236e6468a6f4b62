package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      sourceSha: String, conf: String, work: String, results: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected an option, got '$k'"); k.drop(2) -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seconds = req("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(req("workload"), req("seed").toLong, seconds, req("trace") == "1",
      m.getOrElse("source-sha", "unknown"), req("conf"), req("work"), m.get("results"))
  }
}

/** The metric catalogue. BENCHMARK.json lists the same names and units;
  * SelfTest checks that they agree. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_run_s" -> "s", "throughput_rps" -> "records/s",
    "latency_ms_p50" -> "ms", "latency_ms_p90" -> "ms", "retained_heap_mb" -> "MB")

  val Layers: Seq[String] =
    Seq("pipeline", "plan", "exec", "ops", "io", "streaming", "state", "dedup", "sim", "cache")

  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.parse_ms" -> "ms", "pipeline.compile_ms" -> "ms", "pipeline.apply_ms" -> "ms",
    "pipeline.ops" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.physical_ms" -> "ms",
    "plan.actions" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.deser_ms" -> "ms", "exec.sched_delay_ms" -> "ms", "exec.job_gap_ms" -> "ms",
    "exec.busy_frac" -> "fraction",
    "exec.input_bytes" -> "bytes", "exec.input_records" -> "count",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.fetch_wait_ms" -> "ms", "exec.spill_bytes" -> "bytes",
    "ops.records_in" -> "count", "ops.records_out" -> "count", "ops.kept_frac" -> "fraction",
    "ops.cpu_ns_per_record" -> "ns", "ops.scan_only_ms" -> "ms", "ops.self_ms" -> "ms",
    "io.sends" -> "count", "io.records_sent" -> "count", "io.bytes_sent" -> "bytes",
    "io.records_per_send" -> "count", "io.sink_ms" -> "ms",
    "stream.triggers" -> "count", "stream.records_per_trigger" -> "count",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.trigger_ms" -> "ms", "stream.backlog_files_max" -> "count",
    "stream.gen_late_ms_max" -> "ms",
    "state.rows_updated" -> "count", "state.rows_removed" -> "count",
    "state.rows_dropped_by_watermark" -> "count", "state.commit_ms" -> "ms",
    "state.memory_bytes" -> "bytes", "state.rocksdb_put_count" -> "count",
    "state.rocksdb_get_count" -> "count", "state.rocksdb_file_sync_ms" -> "ms",
    "state.rocksdb_checkpoint_ms" -> "ms", "state.rocksdb_flush_ms" -> "ms",
    "state.rocksdb_load_ms" -> "ms", "state.rocksdb_sst_bytes" -> "bytes",
    "state.rocksdb_block_cache_hit_frac" -> "fraction",
    "dedup.exact_ms" -> "ms", "dedup.minhash_ms" -> "ms", "dedup.clusters_ms" -> "ms",
    "dedup.verified_pairs" -> "count", "dedup.clusters" -> "count",
    "dedup.cluster_jobs" -> "count",
    "sim.pairs_ms" -> "ms", "sim.pairs_kept" -> "count",
    "cache.stored_bytes_peak" -> "bytes", "cache.live_after_release" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MB",
    "trace.overhead_frac" -> "fraction") ++
    Layers.map(l => s"self.${l}_frac" -> "fraction")
}

/** A morphline of perfbench.conf compiled by `PipelineSpec.fromHocon`,
  * which parses, resolves and compiles as production does, with that
  * call's wall time. */
final case class Morphline(pipeline: graft.pipeline.Pipeline, fromHoconMs: Double)

object Morphline {
  // only the connector override channel feeds the config, never the environment
  private val noEnv: String => Option[String] = _ => None

  def compile(ctx: Ctx, id: String): Morphline = {
    val text = ctx.conf
    val t0 = System.nanoTime()
    val pipeline = graft.pipeline.PipelineSpec.fromHocon(text, id,
      settings = Map("morphlines.collection" -> EtlBatch.Collection), env = noEnv)
    Morphline(pipeline, (System.nanoTime() - t0) / 1e6)
  }

  /** pipeline.parse_ms and pipeline.compile_ms. The parse is timed alone
    * by `Hocon.parse` and `resolve` of the same text, here, outside set-up;
    * compile is the rest of the `fromHocon` call. */
  def putLayer(report: Report, ctx: Ctx, m: Morphline): Unit = {
    val text = ctx.conf
    val t0 = System.nanoTime()
    graft.pipeline.Hocon.resolve(graft.pipeline.Hocon.parse(text),
      Map("collection" -> EtlBatch.Collection), noEnv)
    val parseMs = (System.nanoTime() - t0) / 1e6
    report.put("pipeline.parse_ms", parseMs)
    report.put("pipeline.compile_ms", math.max(0.0, m.fromHoconMs - parseMs))
  }
}

/** What one run measured and checked. */
final class Report {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  def put(name: String, v: Double): Unit = metrics(name) = v
  def check(attempts: Long, errors: Long): Unit = { attempted += attempts; failed += errors }
}

object Window {
  /** Start another iteration of a timed window? Only if it would end less
    * than half an iteration after the window closes, so the iteration
    * count does not flap between runs at the window's edge. */
  def more(walls: collection.Seq[Double], until: Long): Boolean =
    System.nanoTime() + (walls.lastOption.getOrElse(0.0) * 0.5e9).toLong < until
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Nearest-rank percentile, p in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }
}

/** Which output records were seen, for the exactly-once check: a bit per
  * expected index; a second sighting is a duplicate, an index outside the
  * generated range is a stray record. Thread-safe (sinks run on executor
  * threads). */
final class Seen(val n: Long) {
  private val bits = new AtomicLongArray(((n + 63) / 64).toInt)
  val dups = new AtomicLong
  val strays = new AtomicLong

  def mark(i: Long): Unit =
    if (i < 0 || i >= n) strays.incrementAndGet()
    else {
      val w = (i >>> 6).toInt
      val b = 1L << (i & 63)
      var done = false
      while (!done) {
        val old = bits.get(w)
        if ((old & b) != 0) { dups.incrementAndGet(); done = true }
        else done = bits.compareAndSet(w, old, old | b)
      }
    }

  def has(i: Long): Boolean = (bits.get((i >>> 6).toInt) & (1L << (i & 63))) != 0

  /** Missing expected records + records that should have been dropped +
    * duplicates + strays. */
  def errors(expected: Long => Boolean): Long = {
    var e = dups.get + strays.get
    var i = 0L
    while (i < n) { if (expected(i) != has(i)) e += 1; i += 1 }
    e
  }

  def clear(): Unit = {
    var w = 0
    while (w < bits.length) { bits.set(w, 0L); w += 1 }
    dups.set(0); strays.set(0)
  }
}

/** What a counting sink saw: each record id, for the exactly-once check,
  * plus sends, records, bytes and sampled records that differ from the
  * generator's. */
abstract class CountingSink(n: Long) {
  val seen = new Seen(n)
  val sends, records, bytes, mismatches = new AtomicLong

  protected def counted(batch: Int, batchBytes: Long): Unit = {
    sends.incrementAndGet(); records.addAndGet(batch); bytes.addAndGet(batchBytes)
  }
}

object Check {
  /** Errors between an expected set and what an output delivered: missing,
    * extra and duplicated elements. */
  def setErrors[T](expected: collection.Set[T], got: Seq[T]): Long = {
    val gotSet = got.toSet
    (got.size - gotSet.size).toLong + (expected.diff(gotSet).size + gotSet.diff(expected).size)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
