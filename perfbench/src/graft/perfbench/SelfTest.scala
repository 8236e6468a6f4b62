package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checks of the benchmark itself, without Spark:
  *  - the same seed gives identical inputs and a different seed different
  *    ones, for all three workloads;
  *  - the checkers report errors when one output record is dropped, when
  *    one is duplicated and when one is wrong;
  *  - the metric names and units match BENCHMARK.json.
  *
  * Usage: SelfTest <path of BENCHMARK.json>. Exits non-zero on failure.
  */
object SelfTest {
  private var failures = 0

  private def check(what: String)(ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def digest(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def etlInputs(seed: Long): String =
    digest((0L until 5000L).iterator.map(i => Gen.envelope(seed, i).toString.getBytes("UTF-8")))

  def streamInputs(seed: Long): String =
    digest((0L until 40L).iterator.map(f => Gen.Stream.fileBytes(seed, f, 0L)))

  def curateInputs(seed: Long): String =
    digest(Gen.Curate.corpus(seed, 1500).iterator.map { d =>
      (s"${d.id}|${d.text}|${d.topic}|${d.quality}|" + d.emb.mkString(",")).getBytes("UTF-8")
    })

  def main(argv: Array[String]): Unit = {
    require(argv.length == 1, "usage: SelfTest <BENCHMARK.json>")

    for ((name, inputs) <- Seq[(String, Long => String)](
        "etl_batch" -> etlInputs, "connector_stream" -> streamInputs,
        "curate_dedup" -> curateInputs)) {
      check(s"$name: same seed, identical inputs")(inputs(1) == inputs(1))
      check(s"$name: different seed, different inputs")(inputs(1) != inputs(2))
    }
    check("connector_stream: re-sends and error records both present") {
      val slots = for (f <- 1L until 40L; j <- 0 until Gen.Stream.FileRecords) yield (f, j)
      slots.exists { case (f, j) => Gen.Stream.isResend(1, f, j) } &&
        slots.exists { case (f, j) => !Gen.Stream.expected(1, f * Gen.Stream.FileRecords + j) }
    }

    // exactly-once checker: 1000 records, every third one must be dropped
    val n = 1000L
    val expected: Long => Boolean = i => i % 3 != 0
    def delivered(skip: Long = -1, twice: Long = -1, extra: Long = -1): Seen = {
      val s = new Seen(n)
      (0L until n).filter(expected).filter(_ != skip).foreach(s.mark)
      if (twice >= 0) s.mark(twice)
      if (extra >= 0) s.mark(extra)
      s
    }
    check("checker: exact delivery has no errors")(delivered().errors(expected) == 0)
    check("checker: one dropped record is an error")(delivered(skip = 7).errors(expected) > 0)
    check("checker: one duplicated record is an error")(delivered(twice = 7).errors(expected) > 0)
    check("checker: one record that should be dropped is an error")(
      delivered(extra = 9).errors(expected) > 0)
    check("checker: a set output missing one element is an error")(
      Check.setErrors(Set(1L, 2L, 3L), Seq(1L, 2L)) > 0)
    check("checker: a set output with one duplicate is an error")(
      Check.setErrors(Set(1L, 2L, 3L), Seq(1L, 2L, 3L, 3L)) > 0)
    check("checker: an exact set output has no errors")(
      Check.setErrors(Set(1L, 2L, 3L), Seq(3L, 1L, 2L)) == 0)

    // the Solr counter compares sampled documents field by field
    val sink = new EtlBatch.SolrCounter(1, 64)
    val good = Gen.Records.expectedDoc(1, 0)
    sink.send(EtlBatch.Collection, Seq(good))
    check("solr sink: the expected document is no mismatch")(sink.mismatches.get == 0)
    sink.send(EtlBatch.Collection, Seq(good.updated("name_s", "someone else")))
    check("solr sink: a wrong field is a mismatch")(sink.mismatches.get == 1)

    // metric names and units against BENCHMARK.json
    val bench = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(argv(0))))
    def listed(key: String): Seq[(String, String)] =
      bench.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    check("end-to-end metrics match BENCHMARK.json")(listed("end_to_end") == Metrics.EndToEnd)
    check("per-layer metrics match BENCHMARK.json")(listed("per_layer") == Metrics.PerLayer)
    check("workloads match BENCHMARK.json")(
      bench.get("workloads").elements.asScala.map(_.get("name").asText).toSet == Main.Workloads.keySet)

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
