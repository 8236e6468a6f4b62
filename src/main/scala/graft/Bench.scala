package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Per-query progress goes to stderr so a hung/slow query is identifiable.
  */
object Bench {

  /** The headline subset reported on stdout (the driver's per-round
    * BENCH_r{N}.json) — also the coverage set for PlanFingerprintSpec's
    * physical-plan regression gate. */
  val headline: Set[String] = Set(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q14_promo_revenue", "q_window_rank", "q_range_join", "q_asof_join",
    "q_custom_topk_agg", "d_dedup_exact", "d_minhash_pairs",
    "d_ngram_jaccard", "d_embed_neardup", "s_knn_brute", "s_knn_lsh",
    "m_avro_roundtrip", "m_grok", "t_quality_score", "mm_media_stats",
    "d_remove_dup_spans", "t_lm_score", "t_bm25_topk", "p_pack_sequences",
    "t_nb_classify", "t_dsir_weight", "s_knn_pq", "d_bloom_decontaminate",
    "x_stream_window", "x_stream_dedup", "t_bpe_train", "t_ppl_buckets",
    "mm_phash_dedup", "t_tfidf_topk",
    // the expensive tail (r10 VERDICT #3): the four most costly ops
    // belong under the official metric, cold included
    "d_cluster_keep_best", "d_dedup_clusters", "s_knn_graph",
    "p_pack_bpe", "t_wordpiece_train", "t_wordpiece_encode",
    // round-11 second-half additions: TPC-H breadth, the stream-stream
    // join gate, line dedup, residual IVF-PQ
    "q6_forecast_revenue", "q19_discounted_revenue", "x_stream_join",
    "d_line_dedup", "s_knn_ivfpq", "s_pagerank", "x_stream_session")

  /** Fixed synthetic calibration probe (r15 VERDICT item 1): a pinned-size
    * generated sort/agg/shuffle with NO parquet and NO code under test —
    * 4M generated rows, 32 input partitions, one hash-agg shuffle to ~10k
    * groups, global top-100 sort. Timed at bench start, every
    * `probeEvery` queries and at the end, it measures the HOST (CPU
    * contention, JIT, scheduler): its spread within the run is what the
    * wall headline's verdict reads (`probe_s`, `adjudication.probe_*`).
    * MIN of 3 runs sheds additive host stalls (one stalled sample
    * inflated a median checkpoint 2.4x in r19's contended sessions) that
    * a median passes straight through.
    */
  def probeSeconds(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = spark.range(0L, 4L * 1000 * 1000, 1L, 32)
        .select(col("id"), pmod(xxhash64(col("id")), lit(9973L)).as("k"),
          (pmod(xxhash64(col("id") + 1), lit(100000L)).cast("double") / 7.0)
            .as("v"))
        .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
        .orderBy(col("s").desc)
        .limit(100).count()
      require(n == 100, s"probe returned $n rows")
      (System.nanoTime() - t0) / 1e9
    }
    times.min
  }

  /** One field of a previous BENCH.out.json; None when the file, the
    * field or the JSON is missing or broken, so a roll restarts rather
    * than aborting the bench. */
  private def prevField(path: java.nio.file.Path,
                        field: String): Option[JsonNode] =
    try {
      if (!java.nio.file.Files.exists(path)) None
      else Option(new ObjectMapper().readTree(path.toFile).get(field))
    } catch { case _: Throwable => None }

  private def doubles(n: JsonNode): Map[String, Double] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  /** A per-query double map from a previous BENCH.out.json (the first of
    * `fields` present) — seeds the rolling min-of-sessions. Non-positive
    * entries are DROPPED: the "min" map carries -1.0 sentinels for
    * failed queries and for every query in a 1-iteration run, and a
    * sentinel that enters the roll wins every math.min forever after
    * (advice r16). */
  private def readPrevMap(path: java.nio.file.Path,
                          fields: Seq[String]): Map[String, Double] =
    fields.iterator.flatMap(prevField(path, _)).nextOption()
      .map(doubles(_).filter(_._2 > 0.0)).getOrElse(Map.empty)

  /** Per-query work counters, summed over the query's executor tasks:
    * task CPU time, input bytes and rows, shuffle bytes (read + written),
    * spill bytes (memory + disk) and the task count. Input rows ride
    * along because parquet's vectored reads bypass the thread statistics
    * `bytesRead` comes from (on local files it counts little more than
    * the footers). The regression gate reads these, not wall seconds: a
    * host's other load stretches a query's wall time but not its work. */
  val workCounters: Seq[String] =
    Seq("cpu_ms", "input_bytes", "input_rows", "shuffle_bytes", "spill_bytes",
      "tasks")

  /** A counter is judged against max(roll, floor), so a counter below its
    * floor cannot flag and a rise from zero (spill) gets a finite ratio.
    * The CPU and shuffle floors sit above the largest same-commit spread
    * measured on back-to-back full boards (README, "Reading a bench
    * record"); the other floors only mark a rise too small to matter. */
  val workFloor: Map[String, Double] = Map(
    "cpu_ms" -> 3000.0, "input_bytes" -> 1.0e6, "input_rows" -> 1.0e5,
    "shuffle_bytes" -> 4.0e6, "spill_bytes" -> 64.0e6, "tasks" -> 64.0)

  /** Sums the work counters of each finished task into the (query,
    * iteration) that `current` names when the task-end event is
    * delivered. Tasks that end while `current` is None (warm-up, probe
    * checkpoints, cache release) are not attributed. The bench drains
    * the listener bus after every iteration, outside the timed window,
    * before it moves `current` on, so no event of one iteration lands on
    * the next. */
  class WorkListener extends org.apache.spark.scheduler.SparkListener {
    @volatile var current: Option[(String, Int)] = None
    private val sums =
      scala.collection.mutable.Map.empty[(String, Int), Array[Long]]
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val key = current
      val m = te.taskMetrics
      if (key.nonEmpty && m != null) sums.synchronized {
        val a = sums.getOrElseUpdate(key.get, new Array[Long](6))
        a(0) += m.executorCpuTime
        a(1) += m.inputMetrics.bytesRead
        a(2) += m.inputMetrics.recordsRead
        a(3) += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(5) += 1
      }
    }
    /** One (query, iteration)'s counters, CPU in ms; None when no task
      * was attributed to it. */
    def at(name: String, iter: Int): Option[Map[String, Double]] =
      sums.synchronized(sums.get(name -> iter).map(_.clone)).map { a =>
        workCounters.zip(a(0) / 1e6 +: a.tail.map(_.toDouble)).toMap }
  }

  /** A query's value of each counter: the minimum over its WARM
    * iterations, as for wall `min` (the cold first run pays codegen and
    * cache builds); empty with a single iteration. */
  private[graft] def warmMin(
      iters: Seq[Map[String, Double]]): Map[String, Double] =
    if (iters.size < 2) Map.empty
    else workCounters.map(c =>
      c -> iters.tail.map(_.getOrElse(c, 0.0)).min).toMap

  /** Key-wise merge of a rolling record with this session's values;
    * keys not seen this session keep their prior value. */
  private def merge(prev: Map[String, Double], cur: Map[String, Double],
                    f: (Double, Double) => Double): Map[String, Double] =
    (prev.keySet ++ cur.keySet).iterator
      .map(k => k -> (prev.get(k) ++ cur.get(k)).reduce(f)).toMap

  /** Rolling per-counter minimum over sessions (query → counter → value);
    * frozen under a non-default execution config. */
  private[graft] def rollWork(prev: Map[String, Map[String, Double]],
                              cur: Map[String, Map[String, Double]],
                              eligible: Boolean)
      : Map[String, Map[String, Double]] =
    if (!eligible) prev
    else (prev.keySet ++ cur.keySet).iterator.map(q => q -> merge(
      prev.getOrElse(q, Map.empty), cur.getOrElse(q, Map.empty), math.min))
      .toMap

  /** The previous record's `work_roll`. Records written before the
    * counter gate have none: the roll then seeds from this session. */
  private[graft] def readPrevWork(
      path: java.nio.file.Path): Map[String, Map[String, Double]] =
    prevField(path, "work_roll").filter(_.isObject).map(_.properties()
      .asScala.map(q => q.getKey -> doubles(q.getValue).filter(_._2 >= 0.0))
      .toMap).getOrElse(Map.empty)

  val suspectFactor = 1.3

  /** One session's counter-gate outcome: suspects as (query, counter,
    * ratio vs roll), the session shift (median task-CPU ratio vs roll)
    * and the number of CPU ratios it was taken over. */
  case class WorkGate(suspects: Seq[(String, String, Double)],
                      shift: Double, nRatios: Int) {
    /** Small ratio samples get NO shift correction (r17 ADVICE): on a
      * focused prefix run the median IS the regressed query's own ratio,
      * so dividing by it would launder a single-query regression into
      * "global shift" and --strict would pass it. */
    def shiftBase: Double = if (nRatios < 10) 1.0 else math.max(shift, 1.0)
  }

  /** Machine-applied reading rule: a SUSPECT is a query one of whose
    * counters moved beyond its prior rolling minimum — judged against
    * max(roll, floor) — by more than `suspectFactor`. The CPU ratio is
    * first divided by the session's shift: a whole-board CPU rise is
    * host profile (turbo, shared caches) or a global regression, and the
    * latter persists across sessions (`boardShift`). Byte and task counts
    * do not scale with the host, so they are not shift-corrected.
    * Streaming gates are exempt: their work scales with the number of
    * triggers, which depends on timing; their signal is `rpsSuspects`.
    * First-seen queries have no roll and cannot be suspects. Each query
    * reports its largest flagging ratio. */
  private[graft] def workGate(cur: Map[String, Map[String, Double]],
                              roll: Map[String, Map[String, Double]],
                              eligible: Boolean): WorkGate = {
    val gated =
      if (!eligible) Map.empty[String, Map[String, Double]]
      else cur.filter { case (q, _) =>
        !q.startsWith("x_stream") && roll.contains(q) }
    val cpuRatios = gated.toSeq.flatMap { case (q, w) =>
      for (r <- roll(q).get("cpu_ms") if r > 0; v <- w.get("cpu_ms"))
        yield v / r }.sorted
    val shift =
      if (cpuRatios.isEmpty) 1.0 else cpuRatios(cpuRatios.size / 2)
    val base = WorkGate(Nil, shift, cpuRatios.size)
    val suspects = gated.toSeq.flatMap { case (q, w) =>
      val rs = for {
        k <- workCounters; v <- w.get(k); r <- roll(q).get(k)
      } yield {
        val ratio = v / math.max(r, workFloor(k))
        k -> (if (k == "cpu_ms") ratio / base.shiftBase else ratio)
      }
      rs.filter(_._2 > suspectFactor).sortBy(-_._2).headOption
        .map { case (k, r) => (q, k, r) }
    }.sortBy(-_._3)
    base.copy(suspects = suspects)
  }

  /** Board-wide-regression arm of the strict gate (r17 ADVICE): a REAL
    * global regression is fully absorbed by the shift division, so
    * --strict additionally fails when the shift itself is large, the
    * session's own probe checkpoints were flat (not a transient stall),
    * and the PREVIOUS board sample already showed the same shift — the
    * "persists across sessions with a flat probe" reading rule. Board
    * runs only: a small sample has no shift correction, so its
    * regressions surface as per-query suspects. */
  private[graft] def boardShift(gate: WorkGate, prevShift: Double,
                                probeFlat: Boolean): Boolean =
    gate.nRatios >= 10 && gate.shift > 1.5 && prevShift > 1.5 && probeFlat

  /** Streaming-throughput regression gate (r17 verdict item 6): an
    * append/disorder gate whose shift-corrected session rps falls below
    * 0.7x its rolling max is an rps suspect (corrected UP by shiftBase:
    * a slow host depresses rps for host reasons). Only the production
    * paths gate — their rps is high enough that 0.7x is signal, not
    * scheduler noise (x_stream_knn runs at ~4 rows/sec). Board-sized
    * runs only (the same >=10 rule as shiftBase): the roll is set in
    * full-board context where 200 prior queries warmed the JIT, and a
    * fresh-JVM focused run measures ~2/3 of that rps from cold-code
    * context alone (measured r18: window_append 38.4k vs 58.3k roll).
    * Values are the fraction of the rolling max. */
  private[graft] def rpsSuspects(gate: WorkGate, rps: Map[String, Double],
                                 prevRoll: Map[String, Double])
      : Seq[(String, Double)] =
    if (gate.nRatios < 10) Nil
    else rps.toSeq.flatMap { case (k, v) =>
      if (!(k.contains("append") || k.contains("disorder"))) None
      else prevRoll.get(k).filter(roll => v * gate.shiftBase < 0.7 * roll)
        .map(roll => k -> v * gate.shiftBase / roll) }.sortBy(_._2)

  /** One full-board bench execution in BENCH.out.json's `samples` list:
    * enough context (verdict, corpus, production stream rps) that a
    * reader of one record can tell a contended-host sample from a
    * regression without archaeology (r18/r19 VERDICT). */
  case class Sample(commit: String, total: Double, shift: Double,
                    flat: Boolean, probeMin: Double, probeMax: Double,
                    sf: String = "", verdict: String = "",
                    streamRps: Map[String, Double] = Map.empty)

  private[graft] def sampleJson(s: Sample): String = {
    val rps =
      if (s.streamRps.isEmpty) ""
      else s.streamRps.toSeq.sorted
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.0f" }
        .mkString(""","stream_rps":{""", ",", "}")
    s"""{"commit":"${s.commit}","total":${f"${s.total}%.3f"},""" +
      s""""shift":${f"${s.shift}%.4f"},"flat":${s.flat},""" +
      s""""probe_min":${f"${s.probeMin}%.4f"},"probe_max":${f"${s.probeMax}%.4f"},""" +
      s""""sf":"${s.sf}","verdict":"${s.verdict}"$rps}"""
  }

  /** Older entries also carry probe-2 spreads and a probe version; those
    * fields are ignored. */
  private[graft] def readPrevSamples(path: java.nio.file.Path): Seq[Sample] =
    prevField(path, "samples").filter(_.isArray).map { node =>
      node.elements().asScala.flatMap { s =>
        def field[T](k: String, f: JsonNode => T): Option[T] =
          Option(s.get(k)).map(f)
        for {
          c <- field("commit", _.asText)
          t <- field("total", _.asDouble)
          sh <- field("shift", _.asDouble)
          fl <- field("flat", _.asBoolean)
        } yield Sample(c, t, sh, fl,
          field("probe_min", _.asDouble).getOrElse(-1.0),
          field("probe_max", _.asDouble).getOrElse(-1.0),
          // pre-r20 entries lack these: defaults mark them legacy
          field("sf", _.asText).getOrElse(""),
          field("verdict", _.asText).getOrElse(""),
          field("stream_rps", identity).filter(_.isObject).map(doubles)
            .getOrElse(Map.empty))
      }.toSeq
    }.getOrElse(Nil)

  /** Best same-commit full-board total among QUIET samples (flat probes,
    * no whole-board shift) — the number a contended sample's verdict
    * points at; -1 when no quiet same-commit sample exists yet. */
  private[graft] def quietBestTotal(samples: Seq[Sample],
                                    commit: String): Double = {
    val q = samples.filter(s =>
      s.commit == commit && s.flat && s.shift <= 1.3 && s.total > 0)
    if (q.isEmpty) -1.0 else q.map(_.total).min
  }

  /** The one-line adjudication of the wall headline. Flatness is derived
    * here from the same probe min/max the sample records, so the verdict
    * and the fields can't disagree. */
  private[graft] def verdictLine(fullBoard: Boolean, nQueries: Int,
                                 cfgDefault: Boolean, shift: Double,
                                 probeMin: Double, probeMax: Double,
                                 quietBest: Double): String = {
    val flat = seriesFlat(Seq(probeMin, probeMax))
    if (!cfgDefault) s"non-default execution config ($nQueries queries; rolls frozen, gates informational)"
    else if (!fullBoard) s"partial run ($nQueries queries; not a board sample)"
    else if (flat && shift <= 1.3) "clean sample"
    else {
      val why =
        if (!flat) f"probe $probeMin%.2f-$probeMax%.2fs within the run"
        else f"global_shift $shift%.2fx with flat probes"
      val qb =
        if (quietBest > 0) f"; quiet same-commit best $quietBest%.1fs"
        else "; no quiet same-commit sample yet"
      s"contended-host sample ($why)$qb"
    }
  }

  /** max/min spread gate of the probe series. */
  private[graft] def seriesFlat(vals: Seq[Double]): Boolean =
    vals.nonEmpty && vals.min > 0 && vals.max / vals.min < 1.3

  /** The sample identity is the last commit that touched SOURCE (src/ or
    * build.sbt), not HEAD: doc-only commits (PLANS/README/record syncs)
    * would otherwise split same-binary samples across "commits" and
    * break quiet_best_total's same-commit matching — observed live in
    * r19, where a wrap commit relabeled an unchanged binary. */
  private def gitCommit: String = {
    def run(cmd: String*): Option[String] =
      try {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0 && out.nonEmpty && !out.contains(" ")) Some(out)
        else None
      } catch { case _: Throwable => None }
    run("git", "log", "-1", "--format=%h", "--", "src", "build.sbt")
      .orElse(run("git", "rev-parse", "--short", "HEAD"))
      .getOrElse("unknown")
  }

  /** Rolling records (rollmin, work_roll, stream_rps_roll) and the
    * ratio gates only make sense when the execution configuration matches
    * the one that set the rolls (ADVICE r18: one run under a
    * throughput-favorable stream config permanently raises
    * stream_rps_roll, after which default runs fail --strict forever; a
    * local-cluster bench would likewise pollute the batch rolls — e.g.
    * s_pagerank measured FASTER under local-cluster in r18). Any
    * execution-shaping env knob ⇒ rolls frozen and gates informational. */
  private[graft] def rollEligibleConfig(env: Map[String, String]): Boolean =
    !env.contains("SPARK_GRAFT_MASTER") &&
      env.getOrElse("SPARK_GRAFT_CPUS", "32") == "32" &&
      !env.contains("SPARK_GRAFT_STREAM_FILES") &&
      // ADVICE r19 (medium): the remaining execution-shaping knobs.
      // A bench against a smaller corpus sets raw rollmin / rps values
      // no default sf0.1 run can ever match (--strict would fail
      // forever after); the state-partition count directly changes
      // stream rps (the STREAM_FILES poisoning class); a non-default
      // iteration count skews every min-of-N roll.
      env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.1") == "/root/testdata/sf0.1" &&
      !env.contains("SPARK_GRAFT_STREAM_PARTS") &&
      env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3") == "3" &&
      !env.contains("SPARK_GRAFT_STATE_PROVIDER") &&
      !Set("0", "off", "false", "snapshot").contains(
        env.getOrElse("SPARK_GRAFT_ROCKSDB_CHANGELOG", "1").trim.toLowerCase) &&
      // row-count tracking default OFF since r22 (write amplification);
      // an explicit =1 run measures a different state write path
      !Set("1", "on", "true").contains(
        env.getOrElse("SPARK_GRAFT_ROCKSDB_TRACKROWS", "0").trim.toLowerCase)

  /** Warm up codegen/scan paths so the alphabetically-first query doesn't
    * absorb JVM+session startup in its timing. Shared with ScaleBench —
    * its 1× column was paying exactly this warmup in whichever query ran
    * first, inflating cross-session comparisons of absolute 1× times
    * (observed in the round-16 poison-at-scale sweeps).
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
      // Also warm the shared physical-operator + expression JIT paths by
      // running the real dedup pair-gen + clustering pipeline on a
      // 256-doc slice (then releasing its caches): a synthetic
      // join/window/agg warmup does NOT warm these — measured ~2s of
      // shared-path warmup still landed in the cold column of whichever
      // pair-gen query ran first in the session. The slice keeps the
      // warmup ~1s; caches are released so the measured runs stay cold.
      import org.apache.spark.sql.functions.col
      val docsW = Tables.load(spark, sfDir, "documents")
        .limit(256).select(col("doc_id"), col("source"), col("lang"),
          col("text"))
      graft.dedup.Dedup.dedupClusters(
        graft.dedup.Dedup.jaccardPairsExact(
          docsW, "text", "doc_id", Seq("source", "lang"), 3, 0.2)).count()
      CacheScope.releaseAll()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

  /** One query's line of the record: wall median, cold, warm min/max
    * (-1 when failed or single-iteration) and its warm-min work. */
  private case class Row(name: String, median: Double, cold: Double,
                         min: Double, max: Double, work: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // match the driver (r15 VERDICT)
    val spark = Sessions.build(cpus)
    // registered before warmup but attributing only while `current`
    // names a (query, iteration)
    val workLis = new WorkListener
    spark.sparkContext.addSparkListener(workLis)
    warmup(spark, sfDir)
    // discarded probe: the FIRST probe execution pays its own codegen/JIT
    // (measured ~1.5x on the start checkpoint)
    probeSeconds(spark)
    val probeStart = probeSeconds(spark)
    System.err.println(f"[bench] calibration probe (start): $probeStart%.3fs")
    // Optional arg: comma-separated query-name prefixes (focused runs;
    // same contract as Verify's third arg). `--strict` exits non-zero on
    // suspects — the machine-applied regression gate (r16 verdict item 5).
    val strict = args.contains("--strict")
    val prefixes = args.filterNot(_ == "--strict")
      .headOption.getOrElse("").split(",").toSeq
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // Each query runs `iters` times; the reported number is the MEDIAN
    // (single-iteration timings swung 2-4x on sub-second queries from
    // JIT/GC/run-order noise). Operator caches are released BETWEEN
    // queries, so the median stays warm-per-query instead of measuring
    // recompute-after-eviction under accumulated cache pressure (round 8).
    val rt = Runtime.getRuntime
    // Interleaved probe checkpoints: edge-only probes are blind to a
    // stall INSIDE the run (PLANS round 16); ~7 extra probes cost ~3 s.
    val probeEvery = 32
    val probeSeries = scala.collection.mutable.ArrayBuffer[(Int, Double)](
      0 -> probeStart)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => prefixes.exists(kv._1.startsWith))
    // Session-tier eviction audit (r21 VERDICT item 2): when the heap
    // hatch below dumps the SESSION cache tier mid-board, the next
    // consumer rebuilds the pair product INSIDE its timed window.
    // `session_hatch` lists the query AFTER which each hatch fired, and
    // `hatch_rebuilds` the first query whose timed window rebuilt the
    // tier afterwards — its median (and work) must be read as tainted.
    val hatchEvents = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val hatchRebuilds = scala.collection.mutable.ArrayBuffer.empty[String]
    var hatchPending = false
    // Hatch threshold: 40% of max heap, at least 2000 MB — an escape hatch
    // for genuine retention (the r9 failure fired at ~3.6 GB of 4g) that
    // does not hair-trigger a mid-board rebuild on big heaps.
    val hatchMb = math.max(2000L, rt.maxMemory() / (1024 * 1024) * 2 / 5)
    val results = selected.zipWithIndex.map { case ((name, fn), qIdx) =>
      if (qIdx > 0 && qIdx % probeEvery == 0) {
        val p = probeSeconds(spark)
        probeSeries += qIdx -> p
        System.err.println(f"[bench] calibration probe (@$qIdx): $p%.3fs")
      }
      val sessBefore = CacheScope.sessionLiveCount
      val times = (1 to iters).map { i =>
        workLis.current = Some(name -> i)
        val t0 = System.nanoTime()
        val n = try { fn(spark, sfDir).count() }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1L }
        val secs = (System.nanoTime() - t0) / 1e9
        // outside the timed window: deliver every task-end event of this
        // iteration before `current` moves on
        try org.apache.spark.sql.classic.GraftBridge
          .drainListenerBus(spark.sparkContext)
        catch { case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"[bench] $name: listener bus drain timed out") }
        workLis.current = None
        (secs, n, workLis.at(name, i).getOrElse(Map.empty[String, Double]))
      }
      // first session-tier rebuild after a hatch: this query's timed
      // window paid the full pair-gen re-materialization (see above)
      if (hatchPending && sessBefore == 0 && CacheScope.sessionLiveCount > 0) {
        hatchRebuilds += name
        hatchPending = false
        System.err.println(s"[bench] $name rebuilt the session tier inside " +
          "its timed window (post-hatch) — its median includes pair-gen")
      }
      val cold = times.head._1
      // A failed iteration (rows == -1) must not masquerade as a (tiny)
      // timing: failed queries report -1 and are excluded from the total.
      val failed = times.exists(_._2 < 0)
      val sortedT = times.map(_._1).sorted
      val median = if (failed) -1.0 else sortedT(times.size / 2)
      // min/max (and the work counters) are over the WARM iterations: the
      // cold run has its own column. With a single iteration there are no
      // warm runs — -1 / no work rather than echoing the cold run.
      val warm = times.drop(1).map(_._1)
      val tMin = if (failed || warm.isEmpty) -1.0 else warm.min
      val tMax = if (failed || warm.isEmpty) -1.0 else warm.max
      val work = if (failed) Map.empty[String, Double] else warmMin(times.map(_._3))
      val liveBefore = CacheScope.liveCount
      CacheScope.releaseAll()
      // Defensive sweep outside the timing window: drop anything the
      // CacheManager still holds and nudge GC so ContextCleaner reclaims
      // localCheckpoint blocks (r9: heap crept to ~3.6 GB and eviction made
      // t_pmi_colloc 30.9 s vs 0.67 s solo). The SESSION cache tier (e.g.
      // the near-dup pair graph three queries share) survives the sweep;
      // the heap hatch below dumps it if the r9 failure mode reappears.
      if (CacheScope.sessionLiveCount == 0)
        spark.sharedState.cacheManager.clearCache()
      // Unload the state-store providers each streaming gate loaded: they
      // linger until the 60 s maintenance pass, and the carried providers
      // inflated later gates' medians ~2x (x_stream_session 3.5 s fresh vs
      // 5.9 s at run position ~200). The pool restarts lazily.
      if (name.startsWith("x_stream"))
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.gc()
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      if (heapMb > hatchMb) {
        System.err.println(
          s"[bench] heap pressure (${heapMb}MB > ${hatchMb}MB): clearing ALL caches including session tier")
        hatchEvents += name -> heapMb.toDouble
        // a later session-tier build is a post-hatch REbuild only if this
        // release actually dropped something
        hatchPending ||= CacheScope.sessionLiveCount > 0
        CacheScope.releaseSession()
        spark.sharedState.cacheManager.clearCache()
        System.gc()
      }
      val cpuMs = work.getOrElse("cpu_ms", -1.0)
      System.err.println(
        f"[bench] $name%-24s median=$median%8.2fs min=$tMin%8.2fs max=$tMax%8.2fs cold=$cold%8.2fs cpu=$cpuMs%9.0fms rows=${times.head._2} cached=$liveBefore sess=${CacheScope.sessionLiveCount} heapMB=$heapMb")
      Row(name, median, if (failed) -1.0 else cold, tMin, tMax, work)
    }
    val probeEnd = probeSeconds(spark)
    System.err.println(f"[bench] calibration probe (end): $probeEnd%.3fs")
    // A zero-query run (prefix matched nothing) would append the end
    // checkpoint under the SAME key (0) as the start one — the JSON
    // object then carries a duplicate "0" key and last-wins parsing
    // silently drops the start checkpoint (advice r16). Skip it.
    if (selected.nonEmpty) probeSeries += selected.size -> probeEnd
    val failedNames = results.filter(_.median < 0).map(_.name)
    if (failedNames.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${failedNames.mkString(", ")}")
    val total = results.map(_.median).filter(_ >= 0).sum
    def fmt(prec: String, v: Double): String =
      String.format(java.util.Locale.ROOT, prec, Double.box(v))
    def json(rs: Seq[Row], prec: String, withCold: Boolean,
             allRps: Boolean = true, extraJson: String = ""): String = {
      def obj(pick: Row => Double) = rs.map(r =>
        "\"" + r.name + "\":" + fmt(prec, pick(r))).mkString("{", ",", "}")
      val qs = obj(_.median)
      val cold =
        if (!withCold) ""
        else s""","cold":${obj(_.cold)},"min":${obj(_.min)},"max":${obj(_.max)}"""
      val failedJson =
        if (failedNames.isEmpty) ""
        else failedNames.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
      // Streaming throughput from the queries' OWN progress (rows/sec over
      // triggerExecution; round-13 verdict item 8). The stdout headline
      // keeps only the append/disorder paths at integer precision: the
      // round harness keeps a ~2k-char stdout tail (the round-1/2
      // "parsed: null" failure). The file record carries all gates.
      val rps = graft.queries.StreamMetrics.rowsPerSec.toSeq.sorted
        .filter { case (k, _) =>
          allRps || k.contains("append") || k.contains("disorder") }
        .map { case (k, v) =>
          "\"" + k + "\":" + fmt(if (allRps) "%.1f" else "%.0f", v) }
      val rpsJson =
        if (rps.isEmpty) "" else rps.mkString(",\"stream_rps\":{", ",", "}")
      s"""{"metric":"total","value":${fmt(prec, total)},"unit":"sec","iters":$iters,"queries":$qs$cold$failedJson$rpsJson$extraJson,"sf":"$sfDir"}"""
    }
    def mapJson(label: String, m: Seq[(String, Double)]): String =
      if (m.isEmpty) ""
      else m.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt("%.6f", v) }
        .mkString(s""","$label":{""", ",", "}")
    def workJson(label: String, m: Map[String, Map[String, Double]]): String =
      if (m.isEmpty) ""
      else m.toSeq.sortBy(_._1).map { case (q, w) =>
        "\"" + q + "\":" + workCounters.flatMap(c => w.get(c).map(v =>
          "\"" + c + "\":" + fmt("%.0f", v))).mkString("{", ",", "}") }
        .mkString(s""","$label":{""", ",", "}")
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out.json"))
    // Read EVERYTHING consumed from the previous record BEFORE the write
    // below overwrites it (ADVICE r18 high: prevShift was read back AFTER
    // Files.write, so the board-shift persistence arm compared the
    // session with itself and could exit 5 on the FIRST contended run).
    val prevRoll = readPrevMap(outFile, Seq("rollmin", "min"))
    val prevWorkRoll = readPrevWork(outFile)
    val prevRpsRoll = readPrevMap(outFile, Seq("stream_rps_roll"))
    val prevSamples = readPrevSamples(outFile)
    // persistence basis for the board-shift arm: the last FULL-BOARD
    // sample's shift (a focused run's shift is its own queries' median,
    // not a board statement); scalar fallback covers pre-samples records
    val prevShift = prevSamples.lastOption.map(_.shift)
      .orElse(prevField(outFile, "global_shift").map(_.asDouble))
      .getOrElse(1.0)
    // Rolls are frozen and ratio gates informational under any
    // execution-shaping env knob (ADVICE r18: a stream-config run
    // permanently raised stream_rps_roll; a local-cluster run can set
    // batch rolls local[32] can't match — s_pagerank ran FASTER there).
    val cfgEligible = rollEligibleConfig(sys.env.toMap)
    if (!cfgEligible)
      System.err.println("[bench] non-default execution config " +
        "(SPARK_GRAFT_MASTER/CPUS/STREAM_FILES/STATE_PROVIDER/" +
        "ROCKSDB_CHANGELOG set): rolling records frozen, ratio gates off")
    // raw wall best-ever per query: telemetry (the gate reads work_roll)
    val curMin = results.filter(_.min >= 0).map(r => r.name -> r.min).toMap
    val rollmin = if (!cfgEligible) prevRoll else merge(prevRoll, curMin, math.min)
    val curWork =
      results.filter(_.work.nonEmpty).map(r => r.name -> r.work).toMap
    val workRoll = rollWork(prevWorkRoll, curWork, cfgEligible)
    val gate = workGate(curWork, prevWorkRoll, cfgEligible)
    val globalShift = gate.shift
    val suspects = gate.suspects.map { case (q, _, r) => q -> r }
    // roll records EVERY gate (telemetry); the suspect gate fires only on
    // the append/disorder family (see rpsSuspects). Under a non-default
    // execution config the roll is FROZEN (ADVICE r18: one run under a
    // throughput-favorable stream config would permanently raise the
    // max, failing default runs forever after).
    val rpsAll = graft.queries.StreamMetrics.rowsPerSec.toMap
    val rpsRoll =
      if (!cfgEligible) prevRpsRoll else merge(prevRpsRoll, rpsAll, math.max)
    val rpsSus = rpsSuspects(gate, rpsAll, prevRpsRoll)
    // stdout carries only start/end; the file gets the full series
    val probeJson =
      s""","probe_s":{"start":${fmt("%.4f", probeStart)},"end":${fmt("%.4f", probeEnd)}}"""
    val probeSeriesJson =
      probeSeries.map { case (i, v) => "\"" + i + "\":" + fmt("%.4f", v) }
        .mkString(""","probe_series":{""", ",", "}")
    // ---- self-adjudicating record (r18 VERDICT item 1): everything a
    // reader needs to classify THIS sample rides in the record itself —
    // global shift, probe flatness, the best quiet same-commit board
    // total, and a one-line verdict. Full-board eligible runs also append
    // to a rolling `samples` list so later sessions can name the quiet
    // best without archaeology.
    val probeVals = probeSeries.map(_._2).toSeq
    val probeFlat = seriesFlat(probeVals)
    val probeMin = probeVals.min
    val probeMax = probeVals.max
    val fullBoard = selected.size >= 200
    val commit = gitCommit
    // the production stream-rps summary rides in the sample so the
    // 16-entry history is standalone (r19 VERDICT item 2)
    val rpsSummary = rpsAll.filter { case (k, _) =>
      k.contains("append") || k.contains("disorder") }
    val sampleBase = Sample(commit, total, globalShift, probeFlat,
      probeMin, probeMax, sfDir, "", rpsSummary)
    val samplesForQuiet =
      if (fullBoard && cfgEligible) prevSamples :+ sampleBase
      else prevSamples
    val quietBest = quietBestTotal(samplesForQuiet, commit)
    val verdict = verdictLine(fullBoard, selected.size, cfgEligible,
      globalShift, probeMin, probeMax, quietBest)
    val sample = sampleBase.copy(verdict = verdict)
    val samplesAll =
      if (fullBoard && cfgEligible) (prevSamples :+ sample).takeRight(16)
      else prevSamples
    val boardShifted = boardShift(gate, prevShift, probeFlat)
    val adjJson =
      s""","adjudication":{"commit":"$commit","global_shift":${fmt("%.4f", globalShift)},""" +
        s""""probe_flat":$probeFlat,"probe_min":${fmt("%.4f", probeMin)},""" +
        s""""probe_max":${fmt("%.4f", probeMax)},""" +
        s""""quiet_best_total":${fmt("%.3f", quietBest)},""" +
        s""""hatch_events":${hatchEvents.size},""" +
        s""""verdict":"$verdict"}"""
    val samplesJson =
      if (samplesAll.isEmpty) ""
      else samplesAll.map(sampleJson).mkString(""","samples":[""", ",", "]")
    val fileExtra = probeJson + probeSeriesJson +
      workJson("work", curWork) + workJson("work_roll", workRoll) +
      mapJson("rollmin", rollmin.toSeq) +
      mapJson("suspects", suspects) +
      mapJson("stream_rps_roll", rpsRoll.toSeq) +
      mapJson("rps_suspects", rpsSus) +
      mapJson("session_hatch", hatchEvents.toSeq) +
      (if (hatchRebuilds.isEmpty) ""
       else hatchRebuilds.map("\"" + _ + "\"")
         .mkString(""","hatch_rebuilds":[""", ",", "]")) +
      s""","global_shift":${fmt("%.4f", globalShift)}""" +
      adjJson + samplesJson
    // The file is the full record; stdout carries the headline subset
    // that fits the round harness's ~2k-char tail.
    java.nio.file.Files.write(outFile,
      json(results, "%.6f", withCold = true,
        extraJson = fileExtra).getBytes("UTF-8"))
    System.err.println(s"[bench] full timings -> ${outFile.toAbsolutePath}")
    // stderr table: per-gate streaming throughput + peak state size
    val sm = graft.queries.StreamMetrics.summaryLines
    if (sm.nonEmpty) {
      System.err.println("[bench] streaming gates: rows/sec, peak state rows, peak state bytes")
      sm.foreach(l => System.err.println(s"[bench]   $l"))
    }
    System.err.println(f"[bench] global_shift (median task-CPU ratio vs " +
      f"its rolling min, ${gate.nRatios} queries): $globalShift%.2fx" +
      (if (globalShift > 1.3) " — whole-board shift; if it persists across" +
        " sessions with a flat probe, investigate globally" else ""))
    if (suspects.nonEmpty) {
      System.err.println(s"[bench] SUSPECTS — a work counter > " +
        f"${suspectFactor}%.1fx max(rolling min, floor); task CPU after " +
        "dividing out the session's global shift:")
      gate.suspects.foreach { case (k, c, r) =>
        System.err.println(f"[bench]   $k%-28s $r%.2fx $c") }
    }
    if (rpsSus.nonEmpty) {
      System.err.println("[bench] RPS SUSPECTS — shift-corrected session " +
        "rps < 0.7x rolling max:")
      rpsSus.foreach { case (k, r) =>
        System.err.println(f"[bench]   $k%-32s ${r * 100}%.0f%% of rolling max") }
    }
    if (boardShifted)
      System.err.println(f"[bench] BOARD-WIDE SHIFT: global_shift " +
        f"$globalShift%.2fx after $prevShift%.2fx last board sample, with " +
        "flat in-session probes — a persisting whole-board regression, " +
        "not a contention artifact")
    System.err.println(s"[bench] verdict: $verdict")
    println(json(results.filter(r => headline(r.name)), "%.3f",
      withCold = false, allRps = false, extraJson = probeJson + adjJson))
    spark.stop()
    val exit =
      if (!strict) None
      else if (boardShifted) Some(5 -> ("persisting board-wide shift — " +
        "rerun to confirm, then bisect the board"))
      else if (suspects.nonEmpty) Some(4 -> s"${suspects.size} suspect(s)")
      else if (rpsSus.nonEmpty) Some(6 -> s"${rpsSus.size} rps suspect(s)")
      else None
    exit.foreach { case (code, why) =>
      System.err.println(s"[bench] --strict: exiting $code ($why)")
      sys.exit(code)
    }
  }
}
