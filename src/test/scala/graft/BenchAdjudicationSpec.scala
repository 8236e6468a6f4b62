package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the bench record's self-adjudication layer (r18 VERDICT
  * item 1) and the work-counter regression gate: the per-round
  * BENCH_r{N}.json must be readable standalone — a judge classifies a
  * contended-host sample from the record's own fields, without PLANS/
  * commit archaeology — and roll updates must freeze under non-default
  * execution configs (ADVICE r18: one throughput-favorable run would
  * otherwise poison the rolling records forever).
  */
class BenchAdjudicationSpec extends AnyFunSuite {

  test("verdictLine: clean sample when probes flat and shift small") {
    assert(Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = true, shift = 1.05, probeMin = 0.4,
      probeMax = 0.45, quietBest = 94.3) == "clean sample")
  }

  test("verdictLine: contended sample names the probe swing and quiet best") {
    val v = Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = true, shift = 1.499, probeMin = 0.44,
      probeMax = 0.76, quietBest = 94.3)
    assert(v.contains("contended-host sample"))
    assert(v.contains("probe 0.44-0.76s"))
    assert(v.contains("quiet same-commit best 94.3s"))
  }

  test("verdictLine: contended flat-probe sample cites the shift; no quiet sample is said so") {
    val v = Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = true, shift = 1.6, probeMin = 0.4,
      probeMax = 0.42, quietBest = -1.0)
    assert(v.contains("global_shift 1.60x"))
    assert(v.contains("no quiet same-commit sample"))
  }

  test("verdictLine: partial and non-default-config runs are labeled, never 'clean sample'") {
    assert(Bench.verdictLine(fullBoard = false, nQueries = 12,
      cfgDefault = true, shift = 1.0, probeMin = 0.4,
      probeMax = 0.4, quietBest = -1).startsWith("partial run (12 queries"))
    assert(Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = false, shift = 1.0, probeMin = 0.4,
      probeMax = 0.4, quietBest = -1).startsWith("non-default execution config"))
  }

  test("quietBestTotal: same commit, flat, small shift only") {
    val ss = Seq(
      Bench.Sample("aaa", 141.0, 1.499, flat = false, 0.44, 0.76),
      Bench.Sample("aaa", 94.3, 1.02, flat = true, 0.27, 0.31),
      Bench.Sample("aaa", 104.8, 1.1, flat = true, 0.3, 0.35),
      Bench.Sample("bbb", 80.0, 1.0, flat = true, 0.3, 0.3), // other commit
      Bench.Sample("aaa", 90.0, 1.45, flat = true, 0.3, 0.3)) // shifted
    assert(Bench.quietBestTotal(ss, "aaa") == 94.3)
    assert(Bench.quietBestTotal(ss, "ccc") == -1.0)
  }

  test("samples round-trip through BENCH.out.json (full per-sample schema)") {
    // r19 VERDICT item 2: each entry is standalone — verdict, sf, probe
    // spread and the production stream-rps summary all round-trip
    val ss = Seq(
      Bench.Sample("abc1234", 94.301, 1.0214, flat = true, 0.2714, 0.3101,
        "sf0.1", "clean sample",
        Map("x_stream_window_append" -> 57274.0,
          "x_stream_session_disorder" -> 43485.0)),
      Bench.Sample("abc1234", 141.02, 1.499, flat = false, 0.4418, 0.7612,
        "sf0.1",
        "contended-host sample (probe 0.44-0.76s within the run); " +
          "quiet same-commit best 94.3s",
        Map("x_stream_window_append" -> 41002.0)))
    val json = s"""{"metric":"total","value":1.0${
      ss.map(Bench.sampleJson).mkString(",\"samples\":[", ",", "]")}}"""
    val f = java.nio.file.Files.createTempFile("bench-samples", ".json")
    try {
      java.nio.file.Files.write(f, json.getBytes("UTF-8"))
      val back = Bench.readPrevSamples(f)
      assert(back.map(_.commit) == Seq("abc1234", "abc1234"))
      assert(back.map(_.flat) == Seq(true, false))
      assert(math.abs(back.head.total - 94.301) < 1e-9)
      assert(math.abs(back(1).probeMax - 0.7612) < 1e-9)
      assert(back.map(_.sf).distinct == Seq("sf0.1"))
      assert(back.head.verdict == "clean sample")
      assert(back(1).verdict.contains("probe 0.44-0.76s"))
      assert(back.head.streamRps("x_stream_window_append") == 57274.0)
      assert(back.head.streamRps("x_stream_session_disorder") == 43485.0)
      assert(back(1).streamRps == Map("x_stream_window_append" -> 41002.0))
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("pre-r20 sample entries (no new fields) still parse with legacy defaults") {
    val legacy = """{"samples":[{"commit":"30faf2e","total":112.45,""" +
      """"shift":1.2839,"flat":false,"probe_min":0.3058,"probe_max":0.3970}]}"""
    val f = java.nio.file.Files.createTempFile("bench-legacy", ".json")
    try {
      java.nio.file.Files.write(f, legacy.getBytes("UTF-8"))
      val back = Bench.readPrevSamples(f)
      assert(back.size == 1)
      assert(back.head.commit == "30faf2e")
      assert(back.head.sf == "" && back.head.verdict == "")
      assert(back.head.streamRps.isEmpty)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("readPrevSamples: missing file / missing field / garbage all yield empty") {
    assert(Bench.readPrevSamples(
      java.nio.file.Paths.get("/tmp/does-not-exist-bench.json")).isEmpty)
    val f = java.nio.file.Files.createTempFile("bench-garbage", ".json")
    try {
      java.nio.file.Files.write(f, "not json".getBytes("UTF-8"))
      assert(Bench.readPrevSamples(f).isEmpty)
      java.nio.file.Files.write(f, """{"samples":"nope"}""".getBytes("UTF-8"))
      assert(Bench.readPrevSamples(f).isEmpty)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("seriesFlat: both-ends spread under 1.3x, non-positive values never flat") {
    assert(Bench.seriesFlat(Seq(0.40, 0.45, 0.50)))
    assert(!Bench.seriesFlat(Seq(0.44, 0.76, 0.58))) // r18's live host event
    assert(!Bench.seriesFlat(Nil))
    assert(!Bench.seriesFlat(Seq(0.0, 0.0)))
  }

  test("rollEligibleConfig: default env eligible; every shaping knob freezes rolls") {
    assert(Bench.rollEligibleConfig(Map.empty))
    assert(Bench.rollEligibleConfig(Map("SPARK_GRAFT_CPUS" -> "32",
      "SPARK_GRAFT_ROCKSDB_CHANGELOG" -> "1")))
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,8,8192]")))
    assert(!Bench.rollEligibleConfig(Map("SPARK_GRAFT_CPUS" -> "8")))
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_STREAM_FILES" -> "span:648000")))
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_STATE_PROVIDER" -> "rocksdb")))
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_ROCKSDB_CHANGELOG" -> "snapshot")))
    // ADVICE r19 (medium): the remaining execution-shaping knobs freeze
    // rolls too — a smaller corpus, a different state-partition count,
    // or a different iteration count each sets records a default run
    // can never match
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.01")))
    assert(Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.1")),
      "explicitly naming the default corpus stays eligible")
    assert(!Bench.rollEligibleConfig(Map("SPARK_GRAFT_STREAM_PARTS" -> "16")))
    assert(!Bench.rollEligibleConfig(Map("SPARK_GRAFT_BENCH_ITERS" -> "6")))
    assert(Bench.rollEligibleConfig(Map("SPARK_GRAFT_BENCH_ITERS" -> "3")),
      "explicitly naming the default iteration count stays eligible")
  }

  // ---- the work-counter gate, on plain-map inputs

  private val floor = Bench.workFloor
  /** One query's counters; every counter defaults to its floor, where a
    * value equal to the roll reads ratio 1.0. */
  private def w(cpu: Double = floor("cpu_ms"),
                in: Double = floor("input_bytes"),
                rows: Double = floor("input_rows"),
                shuffle: Double = floor("shuffle_bytes"),
                spill: Double = 0.0,
                tasks: Double = floor("tasks")): Map[String, Double] =
    Map("cpu_ms" -> cpu, "input_bytes" -> in, "input_rows" -> rows,
      "shuffle_bytes" -> shuffle,
      "spill_bytes" -> spill, "tasks" -> tasks)
  /** A board of `n` flat queries whose CPU moved by `cpuRatio`. */
  private def board(n: Int, cpuRatio: Double)
      : (Map[String, Map[String, Double]], Map[String, Map[String, Double]]) = {
    val qs = (1 to n).map(i => f"q_$i%02d")
    (qs.map(_ -> w(cpu = 10000.0 * cpuRatio)).toMap,
      qs.map(_ -> w(cpu = 10000.0)).toMap)
  }

  test("workGate: a task-CPU rise flags, after the session shift is divided out") {
    val (cur, roll) = board(12, 1.0)
    val g = Bench.workGate(cur + ("q_slow" -> w(cpu = 20000.0)),
      roll + ("q_slow" -> w(cpu = 10000.0)), eligible = true)
    assert(g.nRatios == 13 && g.shift == 1.0)
    assert(g.suspects == Seq(("q_slow", "cpu_ms", 2.0)))
  }

  test("workGate: a byte rise flags, and bytes are not shift-corrected") {
    // a host whose CPU ratios all read 2x: the shift absorbs them, but a
    // 1.5x input-byte rise is work, not host, and still flags
    val (cur, roll) = board(12, 2.0)
    val g = Bench.workGate(
      cur + ("q_scan" -> w(cpu = 20000.0, in = 30.0e6)),
      roll + ("q_scan" -> w(cpu = 10000.0, in = 20.0e6)), eligible = true)
    assert(g.shift == 2.0 && g.shiftBase == 2.0)
    assert(g.suspects.map(_._1) == Seq("q_scan"))
    assert(g.suspects.head._2 == "input_bytes")
    assert(math.abs(g.suspects.head._3 - 1.5) < 1e-9)
  }

  test("workGate: a rise below the floor does not flag") {
    // 10x CPU and 10x shuffle, both still under their floors; tasks up
    // to just under 1.3x of the floor
    val g = Bench.workGate(
      Map("q_tiny" -> w(cpu = floor("cpu_ms") / 2,
        shuffle = floor("shuffle_bytes") / 2, tasks = floor("tasks") * 1.29)),
      Map("q_tiny" -> w(cpu = floor("cpu_ms") / 20,
        shuffle = floor("shuffle_bytes") / 20, tasks = 1.0)),
      eligible = true)
    assert(g.suspects.isEmpty)
  }

  test("workGate: a first-seen query is never a suspect") {
    val g = Bench.workGate(Map("q_new" -> w(cpu = 1.0e9, in = 1.0e12)),
      Map("q_old" -> w()), eligible = true)
    assert(g.suspects.isEmpty && g.nRatios == 0)
  }

  test("workGate and rollWork: a non-default config freezes the rolls and mutes the gate") {
    val prev = Map("q_a" -> w(cpu = 10000.0))
    val cur = Map("q_a" -> w(cpu = 5000.0), "q_b" -> w())
    assert(Bench.rollWork(prev, cur, eligible = false) == prev)
    assert(Bench.rollWork(prev, cur, eligible = true) ==
      Map("q_a" -> w(cpu = 5000.0), "q_b" -> w()))
    val g = Bench.workGate(Map("q_a" -> w(cpu = 90000.0)), prev,
      eligible = false)
    assert(g.suspects.isEmpty && g.nRatios == 0 && g.shift == 1.0)
  }

  test("workGate: fewer than 10 CPU ratios means no shift division") {
    // 9 queries at 1.6x: the median is the board's own ratio, so it must
    // not be divided out; at 12 queries it is
    val (cur9, roll9) = board(9, 1.6)
    val g9 = Bench.workGate(cur9, roll9, eligible = true)
    assert(g9.shift == 1.6 && g9.shiftBase == 1.0)
    assert(g9.suspects.size == 9)
    val (cur12, roll12) = board(12, 1.6)
    val g12 = Bench.workGate(cur12, roll12, eligible = true)
    assert(g12.shiftBase == 1.6 && g12.suspects.isEmpty)
  }

  test("a parent-format BENCH.out.json (probe-2 samples, no work roll) reads and seeds the roll") {
    val parent = """{"metric":"total","value":85.9,"queries":{"q_a":0.5},""" +
      """"rollmin":{"q_a":0.4},"rollmin_norm_c":{"q_a":1.2},""" +
      """"roll_probe1":{"q_a":0.3},"roll_probe2":{"q_a":0.2},""" +
      """"probe_class":{"q_a":"shuffle"},"global_shift":1.03,""" +
      """"probe_version":3,"samples":[{"commit":"14639b8","total":99.636,""" +
      """"shift":1.0293,"flat":false,"probe_min":0.334,"probe_max":0.4199,""" +
      """"probe2_min":0.1403,"probe2_max":0.2692,"probe_version":3,""" +
      """"sf":"sf0.1","verdict":"contended-host sample",""" +
      """"stream_rps":{"x_stream_window_append":44729}}]}"""
    val f = java.nio.file.Files.createTempFile("bench-parent", ".json")
    try {
      java.nio.file.Files.write(f, parent.getBytes("UTF-8"))
      val samples = Bench.readPrevSamples(f)
      assert(samples.map(_.commit) == Seq("14639b8"))
      assert(samples.head.probeMax == 0.4199)
      assert(samples.head.streamRps == Map("x_stream_window_append" -> 44729.0))
      val prevWork = Bench.readPrevWork(f)
      assert(prevWork.isEmpty)
      val cur = Map("q_a" -> w(cpu = 5000.0))
      assert(Bench.rollWork(prevWork, cur, eligible = true) == cur)
      assert(Bench.workGate(cur, prevWork, eligible = true).suspects.isEmpty)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("workGate: a spill rise from 0 to above the floor flags") {
    val g = Bench.workGate(Map("q_sort" -> w(spill = floor("spill_bytes") * 2)),
      Map("q_sort" -> w(spill = 0.0)), eligible = true)
    assert(g.suspects == Seq(("q_sort", "spill_bytes", 2.0)))
  }

  test("warmMin: each counter's minimum over the warm iterations; the cold one is excluded") {
    val cold = w(cpu = 100.0, in = 1.0, tasks = 5.0)
    val warm1 = w(cpu = 3000.0, in = 10.0, tasks = 40.0)
    val warm2 = w(cpu = 2500.0, in = 12.0, tasks = 40.0)
    val m = Bench.warmMin(Seq(cold, warm1, warm2))
    assert(m("cpu_ms") == 2500.0 && m("input_bytes") == 10.0 && m("tasks") == 40.0)
    assert(Bench.warmMin(Seq(cold)).isEmpty, "one iteration has no warm runs")
  }

  test("boardShift: a persisting shift with flat probes fires") {
    val g = Bench.WorkGate(Nil, shift = 1.6, nRatios = 200)
    assert(Bench.boardShift(g, prevShift = 1.7, probeFlat = true))
  }

  test("boardShift: a first shifted session, a swinging probe or a small run stays quiet") {
    val g = Bench.WorkGate(Nil, shift = 1.6, nRatios = 200)
    assert(!Bench.boardShift(g, prevShift = 1.1, probeFlat = true))
    assert(!Bench.boardShift(g, prevShift = 1.7, probeFlat = false))
    assert(!Bench.boardShift(g.copy(nRatios = 9), prevShift = 1.7,
      probeFlat = true))
  }

  test("rpsSuspects: an append gate under 0.7x its rolling max fires") {
    val g = Bench.WorkGate(Nil, shift = 1.0, nRatios = 200)
    val s = Bench.rpsSuspects(g,
      Map("x_stream_window_append" -> 30000.0, "x_stream_knn" -> 1.0),
      Map("x_stream_window_append" -> 50000.0, "x_stream_knn" -> 4.0))
    assert(s == Seq("x_stream_window_append" -> 0.6))
  }

  test("rpsSuspects: shift correction, non-production gates and small runs stay quiet") {
    val rps = Map("x_stream_window_append" -> 30000.0, "x_stream_knn" -> 1.0)
    val roll = Map("x_stream_window_append" -> 50000.0, "x_stream_knn" -> 4.0)
    // a 1.3x CPU shift corrects 30k up to 39k: above 0.7 x 50k
    assert(Bench.rpsSuspects(Bench.WorkGate(Nil, 1.3, 200), rps, roll).isEmpty)
    assert(Bench.rpsSuspects(Bench.WorkGate(Nil, 1.0, 9), rps, roll).isEmpty)
  }
}
