package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Whole-board plan audit (optimization rounds): for EVERY registered
  * batch query, count parquet scans per input table, exchanges, joins and
  * cached-relation reads in the physical plan — the systematic "which
  * query recomputes a corpus-sized subtree" sweep (guide §2.4/§7.2).
  * Streaming gates are skipped (their returned frame is a memory-sink
  * scan; plan cost lives in the run). Output: one TSV row per query on
  * stdout. Run at sf0.001 — plan SHAPE is what's audited.
  *
  * Counting is a tree walk ([[PlanWalk]]), not a plan-string grep: the
  * string form prints a cached relation's child plan once PER CONSUMER,
  * so a subtree deliberately cached to run once still read as a duplicate
  * scan. The walk enters each DISTINCT InMemoryRelation's cachedPlan once
  * (one materialization per cache, however many consumers), so
  * `dup_table_scans` counts only files genuinely scanned more than once
  * per invocation. `inmem` counts InMemoryTableScan consumers;
  * `cached_rels` the distinct relations.
  *
  * Usage: sbt "runMain graft.tools.ScanAudit [dataDir] [prefix]"
  */
object ScanAudit {

  private val counted = Seq("ShuffleExchangeExec", "BroadcastExchangeExec",
    "SortMergeJoinExec", "BroadcastNestedLoopJoinExec", "InMemoryTableScanExec")

  /** The TSV columns after `query` for plan `p`: each cached relation is
    * entered once, keyed on its cache builder identity, and
    * AdaptiveSparkPlanExec unwraps to initialPlan, the first shape that
    * carries exchanges. */
  def tally(p: SparkPlan): Seq[Int] = {
    val files = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val ops = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val rels = scala.collection.mutable.Set.empty[AnyRef]
    PlanWalk.foreach(p, _.initialPlan, im => rels.add(im.relation.cacheBuilder)) {
      case f: FileSourceScanExec =>
        files(f.relation.location.rootPaths.headOption.map(_.toString).getOrElse("?")) += 1
      case n => ops(n.getClass.getSimpleName) += 1
    }
    Seq(files.values.sum, files.count(_._2 > 1), files.values.maxOption.getOrElse(0)) ++
      counted.map(ops) :+ rels.size
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val prefix = args.drop(1).headOption.getOrElse("")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("query\tparquet_scans\tdup_table_scans\tdup_max\texchanges\tbcast\tsmj\tbnl\tinmem\tcached_rels")
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if !name.startsWith("x_stream") && name.startsWith(prefix)) {
      try {
        val df = fn(spark, dir)
        println((name +: tally(df.queryExecution.executedPlan)).mkString("\t"))
      } catch { case e: Throwable =>
        // padded to the 10-column header so TSV parsers stay aligned
        // across an audit containing a failed query (ADVICE r21)
        println(s"$name\tERR\t${e.getClass.getSimpleName}\t-\t-\t-\t-\t-\t-\t-")
      }
      graft.CacheScope.releaseAll()
      spark.sharedState.cacheManager.clearCache()
    }
    graft.CacheScope.releaseSession()
    spark.stop()
  }
}
