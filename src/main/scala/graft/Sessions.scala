package graft

import org.apache.spark.sql.SparkSession

/** One place the harness mains (Bench / Verify / ScaleBench) build their
  * SparkSession, so the execution-environment knobs behave identically
  * everywhere:
  *
  *  - `SPARK_GRAFT_MASTER` — overrides the master URL. The interesting
  *    value is `local-cluster[N,C,MEM_MB]`: Spark's standalone-in-a-box
  *    mode that launches N SEPARATE EXECUTOR JVMS (real process
  *    boundary: closures/state serialize, broadcasts actually
  *    transfer, nothing accidentally shares the driver heap) without
  *    needing a real cluster. Every number before round 14 was
  *    single-JVM `local[32]`; this knob is how the gate surface is
  *    re-run under the closest available approximation of the 100 TB
  *    deployment shape. Executor JVMs are launched by the in-process
  *    Worker from SPARK_HOME, so they need (a) this project's classes
  *    on their classpath and (b) the same JDK-17 --add-opens set the
  *    driver gets from build.sbt — both wired here, not in each main.
  *  - `SPARK_GRAFT_STATE_PROVIDER` — `rocksdb` switches Structured
  *    Streaming state stores to the RocksDB provider (the production
  *    choice for large state at 100 TB: state lives off-heap/on-disk
  *    with changelog/snapshot persistence instead of in-memory
  *    HashMaps). Any other non-empty value is taken as a provider FQCN.
  *    Consumed by the streaming gates when they start queries; setting
  *    it at session scope here makes EVERY gate inherit it.
  */
object Sessions {

  /** The JDK-17 module opens Spark needs when sessions are created
    * outside spark-submit — mirrored from build.sbt's driver options so
    * local-cluster executor JVMs (which do NOT inherit sbt's
    * javaOptions) get the same set. */
  private val jdk17AddOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** RocksDB changelog checkpointing — DEFAULT ON (round-18 flip of the
    * round-17 opt-in). The default RocksDB checkpoint uploads a FULL
    * snapshot per commit, a fixed per-batch cost that made the session
    * gate superlinear at 400 micro-batches (wall exponent 1.21, fixed to
    * 0.98 by changelog mode — measured r17); changelog is the production
    * setting for high-frequency triggers over large state, so it is now
    * the tested default. Snapshot mode stays reachable for A/B via
    * `SPARK_GRAFT_ROCKSDB_CHANGELOG=0|off|false|snapshot`. */
  def rocksdbChangelogEnabled: Boolean =
    !Set("0", "off", "false", "snapshot").contains(
      sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_CHANGELOG", "1")
        .trim.toLowerCase)

  /** RocksDB per-row count tracking (`trackTotalNumberOfRows`). When on
    * (Spark's default), every state put/delete first GETS the existing
    * key to keep `numRowsTotal` exact — ~2x write amplification on
    * write-heavy state, purely for a metric. Default OFF here since
    * round 22 (A/B on the full gate board: see OPTIMIZATION_r22.md);
    * the cost is that StreamingQueryProgress's numRowsTotal counts
    * nothing, so the bench's peak-state-rows telemetry reads n/a under the
    * default — re-enable via SPARK_GRAFT_ROCKSDB_TRACKROWS=1 when a
    * round needs state-size evidence (rolls freeze under the explicit
    * knob like every execution-shaping env var). */
  def rocksdbTrackRowsEnabled: Boolean =
    rocksdbTrackRowsForce.getOrElse(
      Set("1", "on", "true").contains(
        sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_TRACKROWS", "0")
          .trim.toLowerCase))

  /** In-JVM override for [[rocksdbTrackRowsEnabled]]: ScaleBench pins it
    * TRUE — its state-growth-exponent defense (r16 VERDICT item 4)
    * reads peak `numRowsTotal` per scale point, which reports -1 when
    * tracking is off. Wall-clock exponents stay internally consistent
    * (every point pays the same tracking cost). */
  @volatile private[graft] var rocksdbTrackRowsForce: Option[Boolean] = None

  /** Resolved state-store provider FQCN from SPARK_GRAFT_STATE_PROVIDER.
    * DEFAULT: RocksDB since round 22 (previously Spark's HDFSBacked
    * in-memory provider). Two reasons, in order:
    *  - 100 TB posture: HDFSBacked keeps every state row in executor
    *    heap HashMaps — the documented OOM source for large state;
    *    RocksDB (with changelog checkpointing, default on since r18)
    *    is the production provider for state that outgrows the heap.
    *  - Measured at gate scale (round 22, two interleaved full
    *    x_stream board pairs at sf0.1/32 cores, min basis): RocksDB
    *    wins the gate total 43.7/50.4 → 41.2/45.1 s, geomean 1.07x —
    *    window family 1.17-1.23x, kNN gates 1.16-1.25x, stream-stream
    *    joins 1.08-1.11x, enrich 1.14x; session family flat; the two
    *    consistent losers (x_stream_restart_session 0.87x,
    *    x_stream_window_disorder 0.87x) are RocksDB recovery/update
    *    costs at toy state sizes, accepted for the scale posture.
    * `SPARK_GRAFT_STATE_PROVIDER=hdfs` restores the old provider for
    * A/Bs (rolls freeze under the explicit knob, as before). */
  def stateProviderClass: Option[String] =
    sys.env.get("SPARK_GRAFT_STATE_PROVIDER").map(_.trim).filter(_.nonEmpty)
      .orElse(Some("rocksdb"))
      .map {
        case "rocksdb" =>
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        case "hdfs" =>
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        case fqcn => fqcn
      }

  /** Executor-JVM wiring a `local-cluster[...]` master needs when the
    * driver was not launched by spark-submit. Executor JVMs are spawned
    * by the in-process Worker from SPARK_HOME/jars; they additionally
    * need this project's compiled classes (the closures they deserialize
    * reference graft.* classes) and the JDK-17 opens. sbt runs from the
    * project root, so the relative classes dir resolves; an explicit
    * override is available for running from elsewhere. Shared by
    * [[build]] and by harness tools that construct their own
    * local-cluster child sessions (SpillCertify's multi-JVM mode). */
  private[graft] def wireLocalCluster(b0: SparkSession.Builder,
                                      executorMem: Option[String])
      : SparkSession.Builder = {
    val classes = sys.env.getOrElse("SPARK_GRAFT_CLASSES",
      new java.io.File("target/scala-2.13/classes").getAbsolutePath)
    var b = b0.config("spark.executor.extraClassPath", classes)
      .config("spark.executor.extraJavaOptions", jdk17AddOpens)
      // The Worker's in-process launcher resolves the Scala version
      // before it finds $SPARK_HOME/jars; outside spark-class nothing
      // exports SPARK_SCALA_VERSION, so executor launch dies with
      // "Cannot find any build directories." — ship it through the
      // executor Command environment (sc.executorEnvs), which the
      // launcher's childEnv consults first.
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
    // the MEM_MB in local-cluster[N,C,MEM_MB] sizes the WORKER; the
    // executor itself defaults to 1g — overridable per run
    executorMem.foreach(m => b = b.config("spark.executor.memory", m))
    b
  }

  /** Build the standard harness session: `cpus` threads (or the
    * SPARK_GRAFT_MASTER override), `cpus` shuffle partitions, AQE, UTC,
    * no UI. */
  def build(cpus: String): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    var b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster"))
      b = wireLocalCluster(b,
        sys.env.get("SPARK_GRAFT_EXECUTOR_MEM").filter(_.nonEmpty))
    stateProviderClass.foreach(p =>
      b = b.config("spark.sql.streaming.stateStore.providerClass", p))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
