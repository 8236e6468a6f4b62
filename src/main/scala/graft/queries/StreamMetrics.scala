package graft.queries

import scala.jdk.CollectionConverters._

/** Per-gate streaming throughput, captured from the engine's own
  * `StreamingQueryProgress` after each gate run (round-13 verdict item 8):
  * the bench's wall-clock seconds time a FIXED-SIZE replay, so a
  * per-micro-batch overhead regression is invisible once the corpus grows —
  * rows/sec from the query's own progress (numInputRows over
  * triggerExecution ms, summed across the run's triggers) is
  * corpus-size-independent and rides along in BENCH.out.json /
  * the stdout bench line as `stream_rps`. Iterations accumulate: the
  * reported figure is the run-wide average, which smooths the cold first
  * iteration the same way the timing median does.
  */
object StreamMetrics {
  private final case class Acc(rows: Long, ms: Long,
                               stateRows: Option[Long], stateBytes: Long)
  private val acc =
    new java.util.concurrent.ConcurrentHashMap[String, Acc]()

  /** Record a finished streaming query's progress under the GATE name
    * (sink names arrive as `<gate>_sink` and are stripped). State sizes
    * are the run's PEAK (max over triggers of the summed state
    * operators) — the figure a capacity plan needs. Peak rows are
    * `None` (untracked) when RocksDB ran with `trackTotalNumberOfRows`
    * off, the default here (see [[graft.Sessions.rocksdbTrackRowsEnabled]]):
    * its stores count no rows, so an operator reports -1, or 0 where
    * Spark's SQLMetric drops the negative add, and neither is a peak. */
  def record(sinkName: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val name = sinkName.stripSuffix("_sink")
    val ps = q.recentProgress
    // Fixed-cost audit knob (r19 VERDICT item 6): per-trigger durationMs
    // breakdown on stderr — shows whether a gate's per-batch cost is
    // user work (addBatch) or Spark-fixed machinery (planning, WAL/state
    // commit, trigger scheduling). Telemetry only; off unless set.
    if (sys.env.contains("SPARK_GRAFT_STREAM_PROGRESS")) {
      ps.foreach { p =>
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2.longValue)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        System.err.println(
          s"[stream-progress] $name batch=${p.batchId} rows=${p.numInputRows} $d")
      }
    }
    val rows = ps.map(_.numInputRows).sum
    val ms = ps.map(p =>
      Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)).sum
    val ops = ps.flatMap(_.stateOperators)
    val untracked = ops.exists(_.numRowsTotal < 0) ||
      !graft.Sessions.rocksdbTrackRowsEnabled &&
        ops.exists(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))
    val peakRows =
      if (untracked) None
      else Some(if (ps.isEmpty) 0L else ps.map(_.stateOperators.map(_.numRowsTotal).sum).max)
    val peakBytes =
      if (ps.isEmpty) 0L else ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max
    if (rows > 0 && ms > 0)
      acc.merge(name, Acc(rows, ms, peakRows, peakBytes),
        (a, b) => Acc(a.rows + b.rows, a.ms + b.ms,
          for (x <- a.stateRows; y <- b.stateRows) yield math.max(x, y),
          math.max(a.stateBytes, b.stateBytes)))
  }

  /** gate → rows/sec over everything recorded so far. */
  def rowsPerSec: Map[String, Double] =
    acc.asScala.map { case (k, a) => k -> a.rows * 1000.0 / a.ms }.toMap

  /** gate → (rows/sec, peak state rows or None if untracked, peak state
    * bytes) for the stderr summary table (PLANS state-size evidence). */
  def summary: Seq[(String, Double, Option[Long], Long)] =
    acc.asScala.toSeq.sortBy(_._1).map { case (k, a) =>
      (k, a.rows * 1000.0 / a.ms, a.stateRows, a.stateBytes) }

  /** One stderr table line per gate; untracked peak rows print `n/a`. */
  def summaryLines: Seq[String] = summary.map { case (n, rps, sr, sb) =>
    f"$n%-32s rps=$rps%10.1f stateRows=${sr.fold("n/a")(_.toString)}%9s stateBytes=$sb%12d"
  }

  /** Drop everything recorded so far. ScaleBench calls this between
    * scale points so a gate's peak-state figure is attributable to ONE
    * corpus size — the accumulator otherwise maxes across sizes and the
    * growth exponent would read as flat. */
  def reset(): Unit = acc.clear()
}
