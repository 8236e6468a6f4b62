package graft.perfbench

import graft.{CacheScope, Sessions}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Everything a workload needs besides its session. */
final class Ctx(val args: Args, val nproc: Int) {
  def seed: Long = args.seed
  def seconds: Int = args.seconds
  def dir(name: String): Path = Paths.get(args.work, args.workload, name)
  def conf: String = new String(Files.readAllBytes(Paths.get(args.conf)), "UTF-8")
}

/** A workload prepared on one session: compiled, staged, ready to measure. */
trait Prepared {
  /** Cold first iteration, then warm iterations for the run's seconds;
    * puts the end-to-end metrics and, when `trace` is on, the per-layer
    * counts. */
  def measure(trace: Trace, report: Report): Unit
  /** Releases what [[Workload.setup]] made: queries, caches, files. */
  def close(): Unit
}

trait Workload {
  /** Writes the seeded inputs under the workload's directory and builds
    * the truth tables; not part of set-up time. */
  def generate(spark: SparkSession): Unit
  /** Pipeline compile and staging on a fresh session. */
  def setup(spark: SparkSession): Prepared
}

object Main {
  val Workloads: Map[String, Ctx => Workload] = Map(
    "etl_batch" -> (c => new EtlBatch(c)),
    "connector_stream" -> (c => new ConnectorStream(c)),
    "curate_dedup" -> (c => new CurateDedup(c)))

  /** Set-ups per run; set-up time is their median. */
  val Setups = 5

  def main(argv: Array[String]): Unit = {
    val code =
      try run(Args.parse(argv))
      catch {
        case e: Throwable =>
          System.err.println("perfbench: run failed")
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  def run(args: Args): Int = {
    val make = Workloads.getOrElse(args.workload, throw new IllegalArgumentException(
      s"unknown workload '${args.workload}'; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val nproc = Runtime.getRuntime.availableProcessors
    val ctx = new Ctx(args, nproc)
    deleteTree(Paths.get(args.work, args.workload))
    val wl = make(ctx)
    require(Sessions.rocksdbTrackRowsForce.isEmpty,
      "row tracking is forced by an earlier caller in this JVM")

    var spark = Sessions.build(nproc.toString)
    val tGen = System.nanoTime()
    wl.generate(spark)
    log(f"inputs generated in ${(System.nanoTime() - tGen) / 1e9}%.2f s (not part of setup_s)")

    val report = new Report
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var prepared: Prepared = null
    for (k <- 1 to Setups) {
      CacheScope.releaseAll(blocking = true)
      spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.build(nproc.toString)
      val p = wl.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (k < Setups) p.close() else prepared = p
    }
    report.put("setup_s", Stats.median(setupS.toSeq))
    log(s"setup_s samples: ${setupS.map(s => f"$s%.3f").mkString(" ")}")

    val env = Json.obj(environment(spark, args, nproc).map { case (k, v) => k -> Json.str(v) })
    log("environment " + env)
    val trace = new Trace(spark, nproc)
    report.put("jvm.heap_after_gc_mb", heapAfterGcMb())
    val gc0 = gcMs()
    val before = globalState(spark)
    try prepared.measure(trace, report)
    finally {
      trace.disable()
      prepared.close()
      CacheScope.releaseAll(blocking = true)
    }
    args.results.filter(_ => args.trace).foreach { f =>
      trace.writeSpans(Paths.get(f).resolveSibling("spans").resolve(s"${args.workload}-${args.seed}.jsonl"))
    }
    val after = globalState(spark)
    val leaked = before.zip(after).filter { case (b, a) => b != a }
    leaked.foreach { case ((k, b), (_, a)) => log(s"global state leaked: $k was $b, is $a") }
    report.check(0, leaked.size)
    log("measured")
    report.put("jvm.gc_ms", gcMs() - gc0)
    report.put("retained_heap_mb", heapAfterGcMb())
    spark.stop()

    val wanted = if (args.trace) Metrics.PerLayer else Metrics.EndToEnd
    val metrics = wanted.map { case (name, unit) =>
      name -> Json.obj(Seq("value" -> Json.num(report.metrics.getOrElse(name, 0.0)),
        "unit" -> Json.str(unit)))
    }
    val correct = report.failed == 0 && report.attempted > 0
    val result = Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> report.attempted.toString, "failed" -> report.failed.toString,
      "metrics" -> Json.obj(metrics)))
    args.results.foreach { f =>
      val record = Json.obj(Seq(
        "env" -> env,
        "result" -> result,
        "all_metrics" -> Json.obj(report.metrics.toSeq.map { case (k, v) => k -> Json.num(v) })))
      Files.createDirectories(Paths.get(f).getParent)
      Files.write(Paths.get(f), (record + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    deleteTree(Paths.get(args.work, args.workload))
    if (!correct) log(s"CORRECTNESS FAILED: ${report.failed} errors in ${report.attempted} attempts")
    println("perfbench env " + env)
    println(result)
    if (correct) 0 else 1
  }

  /** JVM- and session-global state a workload touches; it must read the
    * same after the workload as before, or the next workload in the same
    * JVM would run under different settings. */
  def globalState(spark: SparkSession): Seq[(String, Any)] = {
    import graft.io.Sinks.{KafkaEnv, SolrEnv}
    Seq("SolrEnv.sender" -> SolrEnv.sender, "KafkaEnv.sender" -> KafkaEnv.sender,
      "SolrEnv.schema" -> SolrEnv.schemaOf(EtlBatch.Collection),
      "CacheScope.liveCount" -> CacheScope.liveCount,
      "CacheScope.sessionLiveCount" -> CacheScope.sessionLiveCount,
      "active streams" -> spark.streams.active.length,
      "Sessions.rocksdbTrackRowsForce" -> Sessions.rocksdbTrackRowsForce) ++
      Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows")
        .map(k => k -> spark.conf.getOption(k))
  }

  /** The settings a result depends on; results are comparable only when
    * these agree (perfbench/compare.py). */
  def environment(spark: SparkSession, args: Args, nproc: Int): Seq[(String, String)] = Seq(
    "nproc" -> nproc.toString,
    "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
    "spark_version" -> spark.version,
    "master" -> spark.sparkContext.master,
    "state_provider" -> spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .getOrElse("default"),
    "rocksdb_changelog" -> Sessions.rocksdbChangelogEnabled.toString,
    "rocksdb_track_rows" -> Sessions.rocksdbTrackRowsEnabled.toString,
    "java" -> System.getProperty("java.version"),
    "commit" -> gitCommit(),
    "source_sha" -> args.sourceSha,
    "workload" -> args.workload,
    "seed" -> args.seed.toString,
    "seconds" -> args.seconds.toString,
    "trace" -> (if (args.trace) "1" else "0"))

  private def gitCommit(): String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "none"
    } catch { case _: java.io.IOException => "none" }

  /** Used heap after full collections. Spark's ContextCleaner frees
    * shuffle and broadcast state asynchronously once a collection has
    * found it unreachable, so collect, let it run, and collect again. */
  def heapAfterGcMb(): Double = {
    for (_ <- 0 until 4) { System.gc(); Thread.sleep(150) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%6.1fs] $msg")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally all.close()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
