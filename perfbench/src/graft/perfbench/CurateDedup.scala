package graft.perfbench

import graft.CacheScope
import graft.dedup.Dedup
import graft.sim.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `curate_dedup`: one curation pass per iteration over a seeded corpus:
  * Dedup.exact, then Dedup.minhashLshPairs and Dedup.dedupClusters, a
  * keep-best join (highest quality per near-duplicate cluster), then
  * Similarity.cosinePairsBlocked over the kept documents' embeddings to
  * find paraphrases, and CacheScope.releaseAll at the end.
  *
  * Why: shuffle-heavy and iterative, with many small jobs, cache builds
  * and pair enumeration and hardly any parsing, so `plan`/`exec`
  * scheduling, `dedup`, `sim` and `cache` changes show here.
  */
final class CurateDedup(ctx: Ctx) extends Workload {
  import CurateDedup._

  private val corpusDir = ctx.dir("corpus").toString
  private val embDir = ctx.dir("embeddings").toString
  private var truth: Truth = _

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val docs = Gen.Curate.corpus(ctx.seed, Docs)
    truth = Truth(docs)
    docs.map(d => (d.id, d.text, d.topic, d.quality)).toSeq
      .toDF("id", "text", "topic", "quality").repartition(ctx.nproc).write.parquet(corpusDir)
    docs.map(d => (d.id, d.topic, d.emb)).toSeq
      .toDF("id", "topic", "emb").repartition(ctx.nproc).write.parquet(embDir)
  }

  def setup(spark: SparkSession): Prepared = {
    // staging: the two input relations
    val corpus = spark.read.parquet(corpusDir)
    val emb = spark.read.parquet(embDir)
    corpus.schema; emb.schema
    new Run(spark, corpus, emb)
  }

  private final class Run(spark: SparkSession, corpus: DataFrame, emb: DataFrame)
      extends Prepared {
    private var storedPeak = 0.0

    private def stored(): Unit = {
      val b = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      storedPeak = math.max(storedPeak, b.toDouble)
    }

    /** One curation pass: wall seconds and errors against the truth. */
    private def iteration(trace: Trace, t: Timings): (Double, Long) = {
      val t0 = System.nanoTime()
      val own = ArrayBuffer.empty[DataFrame]
      def keep(df: DataFrame): DataFrame = { own += df; df.persist() }
      def timed[T](acc: ArrayBuffer[Double])(body: => T): T = {
        val s = System.nanoTime(); val r = body; acc += (System.nanoTime() - s) / 1e6; r
      }

      val exact = timed(t.exact)(trace.span("dedup", "Dedup.exact") {
        val e = keep(Dedup.exact(corpus, "text", "id"))
        (e, e.select("id").collect().map(_.getLong(0)))
      })
      val pairs = timed(t.minhash)(trace.span("dedup", "Dedup.minhashLshPairs") {
        val p = keep(Dedup.minhashLshPairs(exact._1, "text", "id", shingleSize = 3,
          numHashes = NumHashes, bands = Bands, threshold = JaccardThreshold)
          .select("id_a", "id_b"))
        (p, p.collect().map(r => (r.getLong(0), r.getLong(1))))
      })
      val labels = timed(t.clusterMs)(trace.span("dedup", "Dedup.dedupClusters") {
        val l = keep(Dedup.dedupClusters(pairs._1))
        (l, l.collect().map(r => (r.getLong(0), r.getLong(1))))
      })
      val kept = timed(t.keepBest)(trace.span("exec", "keepBest") {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy(col("quality").desc, col("id"))
        val k = keep(exact._1.join(labels._1, Seq("id"), "left")
          .withColumn("grp", coalesce(col("label"), col("id")))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).select("id"))
        (k, k.collect().map(_.getLong(0)))
      })
      val sim = timed(t.sim)(trace.span("sim", "Similarity.cosinePairsBlocked") {
        Similarity.cosinePairsBlocked(emb.join(kept._1, Seq("id")), "id", "emb", "topic",
          CosineThreshold).select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      })
      stored()
      trace.span("cache", "CacheScope.releaseAll") {
        CacheScope.releaseAll()
        own.foreach(_.unpersist())
      }
      val wall = Main.secs(t0)
      val errors = Check.setErrors(truth.exact, exact._2.toSeq) +
        Check.setErrors(truth.pairs, pairs._2.toSeq) +
        Check.setErrors(truth.labels, labels._2.toSeq) +
        Check.setErrors(truth.kept, kept._2.toSeq) +
        Check.setErrors(truth.simPairs, sim.toSeq)
      t.pairs += pairs._2.length; t.clusters += labels._2.map(_._2).distinct.length
      t.simKept += sim.length
      (wall, errors)
    }

    def measure(trace: Trace, report: Report): Unit = {
      val (first, e0) = iteration(trace, new Timings)
      report.put("first_run_s", first)
      report.check(Docs, e0)
      // the next pass still runs JIT-cold code paths; checked, not timed
      report.check(Docs, iteration(trace, new Timings)._2)
      val until = System.nanoTime() + ctx.seconds * 1000000000L
      if (ctx.args.trace) traced(trace, report, until)
      else {
        val walls = ArrayBuffer.empty[Double]
        val t = new Timings
        while (walls.size < MinIters || Window.more(walls, until)) {
          val (w, e) = iteration(trace, t)
          walls += w; report.check(Docs, e)
        }
        // latency: the wall of each call a pass makes (exact, minhash,
        // clusters, keep-best, cosine pairs), pooled over the warm passes
        val lat = (t.exact ++ t.minhash ++ t.clusterMs ++ t.keepBest ++ t.sim).toSeq
        report.put("throughput_rps", Docs / Stats.median(walls.toSeq))
        report.put("latency_ms_p50", Stats.median(lat))
        report.put("latency_ms_p90", Stats.pct(lat, 90))
        Main.log(s"curate_dedup: ${walls.size} warm iterations of $Docs docs; walls " +
          walls.map(w => f"$w%.3f").mkString(" ") + s"; ${lat.size} call latencies; call medians " +
          Seq(t.exact, t.minhash, t.clusterMs, t.keepBest, t.sim).map(x => f"${Stats.median(x.toSeq)}%.0f").mkString(" "))
      }
    }

    /** Untraced and traced passes alternate, so the tracing overhead is
      * not confounded with JVM warm-up. */
    private def traced(trace: Trace, report: Report, until: Long): Unit = {
      val plain, tWall = ArrayBuffer.empty[Double]
      val tt = new Timings
      while (plain.size < MinIters || System.nanoTime() < until) {
        val (w0, e0) = iteration(trace, new Timings)
        plain += w0; report.check(Docs, e0)
        trace.enable()
        trace.iter = tWall.size
        val (w, e) = trace.span("bench", "iteration")(iteration(trace, tt))
        trace.disable()
        tWall += w; report.check(Docs, e)
      }
      val self = trace.selfMs()
      val counts = trace.counts.synchronized(trace.counts.toMap.withDefaultValue(0.0))
      val iters = tWall.size.toDouble
      report.put("dedup.exact_ms", Stats.median(tt.exact.toSeq))
      report.put("dedup.minhash_ms", Stats.median(tt.minhash.toSeq))
      report.put("dedup.clusters_ms", Stats.median(tt.clusterMs.toSeq))
      report.put("dedup.verified_pairs", tt.pairs.sum / iters)
      report.put("dedup.clusters", tt.clusters.sum / iters)
      report.put("dedup.cluster_jobs", trace.jobsIn("Dedup.dedupClusters") / iters)
      report.put("sim.pairs_ms", Stats.median(tt.sim.toSeq))
      report.put("sim.pairs_kept", tt.simKept.sum / iters)
      report.put("cache.stored_bytes_peak", storedPeak)
      report.put("cache.live_after_release", CacheScope.liveCount)
      report.put("ops.records_in", Docs)
      report.put("ops.records_out", truth.kept.size)
      report.put("ops.kept_frac", truth.kept.size.toDouble / Docs)
      Layers.putExec(report, counts, iters, tWall.sum * 1000, ctx.nproc)
      Layers.putPlan(report, counts, iters)
      Layers.putSelf(report, self, tWall.sum * 1000)
      val (u, t) = (Stats.median(plain.toSeq), Stats.median(tWall.toSeq))
      report.put("trace.overhead_frac", (t - u) / t)
    }

    def close(): Unit = CacheScope.releaseAll(blocking = true)
  }
}

object CurateDedup {
  /** Documents per iteration (the stated input size of throughput_rps). */
  val Docs = 2500
  val MinIters = 3
  val NumHashes = 32
  val Bands = 16
  val JaccardThreshold = 0.5
  val CosineThreshold = 0.95

  final class Timings {
    // per iteration: stage ms, then output sizes
    val exact, minhash, clusterMs, keepBest, sim = ArrayBuffer.empty[Double]
    val pairs, clusters, simKept = ArrayBuffer.empty[Double]
  }

  /** Expected output of every stage, computed from the generated corpus
    * without the engine. */
  final case class Truth(exact: Set[Long], pairs: Set[(Long, Long)],
                         labels: Set[(Long, Long)], kept: Set[Long],
                         simPairs: Set[(Long, Long)])

  object Truth {
    def apply(docs: Array[Gen.Curate.Doc]): Truth = {
      // exact: lowest id per identical text
      val exactDocs = docs.groupBy(_.text).values.map(_.minBy(_.id)).toArray
      val exact = exactDocs.map(_.id).toSet
      // near-duplicate pairs: members of one group, verified by Jaccard
      // (unrelated texts share no 3-shingles in practice)
      val pairs: Set[(Long, Long)] = exactDocs.groupBy(_.group).values.flatMap { g =>
        for (a <- g.toSeq; b <- g.toSeq if a.id < b.id &&
          Gen.Curate.jaccard(a.text, b.text) >= JaccardThreshold) yield (a.id, b.id)
      }.toSet
      // clusters: connected components, labelled by their lowest id
      val parent = mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
      }
      val members = pairs.flatMap { case (a, b) => Seq(a, b) }
      val labels = members.map(m => (m, find(m)))
      val label = labels.toMap
      // keep-best: highest quality per cluster, ties to the lower id
      val kept = exactDocs.groupBy(d => label.getOrElse(d.id, d.id)).values
        .map(_.minBy(d => (-d.quality, d.id)).id).toSet
      // paraphrase pairs among the kept docs: same topic, cosine above threshold
      val keptDocs = docs.filter(d => kept(d.id))
      val simPairs: Set[(Long, Long)] = keptDocs.groupBy(_.topic).values.flatMap { g =>
        for (a <- g.toSeq; b <- g.toSeq if a.id < b.id &&
          Gen.Curate.cosine(a.emb, b.emb) >= CosineThreshold) yield (a.id, b.id)
      }.toSet
      Truth(exact, pairs, labels, kept, simPairs)
    }
  }
}
