package graft

import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._

/** Live contract for the bench's work counters: `Bench.WorkListener`
  * sums each finished task's counters into the (query, iteration) named
  * by `current`. The bench drains the listener bus after every iteration
  * before it moves `current` on; these cases do the same.
  */
class ScanListenerSpec extends SparkSpec {

  private def drain(): Unit = GraftBridge.drainListenerBus(spark.sparkContext)

  test("input and shuffle bytes land on the right (query, iteration)") {
    val dir = tempDir("work-listener").resolve("t").toString
    spark.range(0L, 200000L, 1L, 4).select(col("id"), xxhash64(col("id")).as("h"))
      .write.parquet(dir)
    val lis = new Bench.WorkListener
    spark.sparkContext.addSparkListener(lis)
    try {
      // scan-only: parquet read, filter, collect — no exchange
      lis.current = Some("q_work" -> 1)
      spark.read.parquet(dir).filter(col("h") === 0L).collect()
      drain()
      // shuffle-only: generated rows, wide-key aggregation
      lis.current = Some("q_work" -> 2)
      spark.range(0L, 200000L, 1L, 4)
        .groupBy(pmod(col("id"), lit(1000L)).as("k")).count().collect()
      drain()
      lis.current = None
      val scan = lis.at("q_work", 1).getOrElse(fail("iteration 1 not attributed"))
      val shuf = lis.at("q_work", 2).getOrElse(fail("iteration 2 not attributed"))
      assert(scan("input_bytes") > 0 && scan("input_rows") == 200000, scan)
      assert(scan("shuffle_bytes") == 0, scan)
      assert(shuf("shuffle_bytes") > 0 && shuf("input_bytes") == 0, shuf)
      assert(scan("tasks") >= 1 && shuf("tasks") >= 1)
      assert(scan("cpu_ms") > 0 && shuf("cpu_ms") > 0)
      assert(lis.at("q_work", 3).isEmpty)
      assert(lis.at("q_other", 1).isEmpty)
    } finally spark.sparkContext.removeSparkListener(lis)
  }

  test("tasks run while current is empty are not attributed") {
    val lis = new Bench.WorkListener
    spark.sparkContext.addSparkListener(lis)
    try {
      lis.current = Some("q_before" -> 1)
      spark.range(0L, 100000L, 1L, 2).count()
      drain()
      val before = lis.at("q_before", 1)
      assert(before.exists(_("tasks") >= 1), before)
      // with no current query, a job's tasks go nowhere: not to the
      // previous key, and not to the key set after the drain
      lis.current = None
      spark.range(0L, 100000L, 1L, 2).count()
      drain()
      lis.current = Some("q_after" -> 1)
      drain()
      assert(lis.at("q_before", 1) == before)
      assert(lis.at("q_after", 1).isEmpty)
    } finally spark.sparkContext.removeSparkListener(lis)
  }
}
