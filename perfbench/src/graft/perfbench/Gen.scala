package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generators and the truth the checker compares against.
  *
  * Every record is a pure function of (seed, index): the same seed gives
  * the same inputs whatever the partitioning or thread timing, and the
  * checker recomputes any expected value without storing the inputs.
  * Each field draws from its own hash stream, so a truth such as "record i
  * is an error record" costs one hash, not a whole record.
  */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hash of (seed, stream, index): one independent stream per field. */
  def h(seed: Long, stream: Int, i: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + stream) ^ (i * 0xd6e8feb86659fd93L))

  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  def below(x: Long, n: Int): Int = ((x >>> 1) % n).toInt

  /** Seed-independent vocabulary of pseudo-words, letters only (no JSON
    * escaping needed). */
  val Vocab: Array[String] = Array.tabulate(8192) { i =>
    val x = mix(i.toLong + 0x51ed27L)
    val len = 3 + below(x, 7)
    val sb = new StringBuilder
    var y = mix(x)
    for (_ <- 0 until len) { sb.append(('a' + below(y, 26)).toChar); y = mix(y) }
    sb.toString
  }

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private val IsoMillis = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
  def isoMillis(ms: Long): String = IsoMillis.format(java.time.Instant.ofEpochMilli(ms))

  /** Connect records: a twitter-style JSON value in a Kafka envelope. Used by
    * `etl_batch` directly and by `connector_stream` for its record bodies. */
  object Records {
    val Langs: Array[String] = Array("en", "en", "en", "en", "en", "es", "es", "de", "fr", "ja")
    /** Share of records with level=error, which the morphline drops. */
    val ErrorShare = 0.15
    /** Words in each record's text: sets the payload width (~250 B values). */
    val TextWords = 24
    val BaseMs = 1767225600000L // 2026-01-01T00:00:00Z

    def isError(seed: Long, i: Long): Boolean = unit(h(seed, 1, i)) < ErrorShare
    def lang(seed: Long, i: Long): String = Langs(below(h(seed, 2, i), Langs.length))
    def name(seed: Long, i: Long): String = "user_" + below(h(seed, 3, i), 50000)
    def createdMs(seed: Long, i: Long): Long = BaseMs + i * 13 + below(h(seed, 4, i), 1000)
    def text(seed: Long, i: Long): String = {
      val sb = new StringBuilder
      var k = 0
      while (k < TextWords) {
        if (k > 0) sb.append(' ')
        sb.append(Vocab(below(h(seed, 5, i * 64 + k), Vocab.length)))
        k += 1
      }
      sb.toString
    }
    def value(seed: Long, i: Long): String =
      s"""{"id":$i,"name":"${name(seed, i)}","lang":"${lang(seed, i)}",""" +
        s""""level":"${if (isError(seed, i)) "error" else "info"}",""" +
        s""""created_ms":${createdMs(seed, i)},"text":"${text(seed, i)}"}"""

    def key(i: Long): String = "k" + i

    /** The Solr document the `cloudsolr` morphline must send for record i
      * (only when it is not an error record). */
    def expectedDoc(seed: Long, i: Long): Map[String, Any] = Map(
      "id" -> md5Hex(i.toString), "doc_id" -> i, "name_s" -> name(seed, i),
      "lang_s" -> lang(seed, i), "text_t" -> text(seed, i),
      "create_dt" -> isoMillis(createdMs(seed, i)))

    /** Solr collection schema: what sanitizeUnknownSolrFields keeps. */
    val SolrFields: Seq[String] = Seq("id", "doc_id", "name_s", "lang_s", "text_t", "create_dt")

    /** Record id from a value produced by [[value]] (`{"id":<n>,...`). */
    def idOfValue(v: Array[Byte]): Long = {
      var p = 6 // after {"id":
      var n = 0L
      while (p < v.length && v(p) >= '0' && v(p) <= '9') { n = n * 10 + (v(p) - '0'); p += 1 }
      n
    }
  }

  /** Envelope row as the etl input stores it (Kafka source column names). */
  final case class Envelope(key: String, value: String, topic: String,
                            partition: Int, offset: Long, timestamp: Long)

  def envelope(seed: Long, i: Long): Envelope =
    Envelope(Records.key(i), Records.value(seed, i), "twitter", (i % 8).toInt,
      i / 8, Records.createdMs(seed, i) + below(h(seed, 6, i), 50))

  /** Connector stream: files of [[Stream.FileRecords]] records. A slot is
    * either a fresh record (global index f*FileRecords+j) or, with
    * [[Stream.ResendShare]], an at-least-once re-send of a record from one
    * of the previous [[Stream.ResendLagFiles]] files, with that record's
    * key, value and event time. Event time is logical (file index times
    * [[Stream.EventStepMs]]), so it is seeded too and the watermark
    * advances with the file index, not with the wall clock.
    */
  object Stream {
    val FileRecords = 200
    val ResendShare = 0.10
    val ResendLagFiles = 8
    val EventStepMs = 125L
    private val StreamSalt = 0x5757L

    def recordSeed(seed: Long): Long = seed ^ StreamSalt

    /** Global index of the record in slot j of file f, following re-sends
      * back to the original. */
    def origin(seed: Long, f: Long, j: Int): Long = {
      var ff = f
      var jj = j
      var x = h(seed, 20, ff * FileRecords + jj)
      while (ff > 0 && unit(x) < ResendShare) {
        val lag = 1 + below(h(seed, 21, ff * FileRecords + jj), math.min(ff, ResendLagFiles.toLong).toInt)
        val j2 = below(h(seed, 22, ff * FileRecords + jj), FileRecords)
        ff -= lag; jj = j2
        x = h(seed, 20, ff * FileRecords + jj)
      }
      ff * FileRecords + jj
    }

    def isResend(seed: Long, f: Long, j: Int): Boolean = origin(seed, f, j) != f * FileRecords + j
    def eventMs(g: Long): Long = Records.BaseMs + (g / FileRecords) * EventStepMs

    /** JSON lines of file f; `sentMs` stamps when the file was due. */
    def fileBytes(seed: Long, f: Long, sentMs: Long): Array[Byte] = {
      val rs = recordSeed(seed)
      val sb = new StringBuilder(FileRecords * 400)
      var j = 0
      while (j < FileRecords) {
        val g = origin(seed, f, j)
        val v = Records.value(rs, g).replace("\"", "\\\"")
        sb.append(s"""{"key":"${Records.key(g)}","value":"$v","topic":"twitter",""")
          .append(s""""partition":${g % 8},"offset":${g / 8},"event_ms":${eventMs(g)},""")
          .append(s""""file_id":$f,"sent_ms":$sentMs}""").append('\n')
        j += 1
      }
      sb.toString.getBytes(UTF_8)
    }

    /** Records the sink must deliver exactly once for files [0, files): not a
      * re-send and not an error record. */
    def expected(seed: Long, g: Long): Boolean = {
      val f = g / FileRecords
      !isResend(seed, f, (g % FileRecords).toInt) && !Records.isError(recordSeed(seed), g)
    }
  }

  /** Curation corpus. Documents are originals or copies of an original:
    * exact copies (same text), near copies (1-2 words replaced, so 3-shingle
    * Jaccard stays above ~0.8 between any two members of a group) and
    * paraphrases (unrelated text, same embedding direction). Copies share
    * their original's topic block; embeddings of a group differ by small
    * noise, unrelated ones are random directions in [[Curate.Dim]]
    * dimensions. Ids are a seeded permutation, so originals are not always
    * the lowest id.
    */
  object Curate {
    val Words = 120
    val Dim = 64
    val Topics = 64
    val ExactShare = 0.08
    val NearShare = 0.12
    val ParaphraseShare = 0.04

    final case class Doc(id: Long, text: String, topic: Int, quality: Double,
                         emb: Array[Float], group: Int, kind: Int)
    val Original = 0; val ExactCopy = 1; val NearCopy = 2; val Paraphrase = 3

    def corpus(seed: Long, n: Int): Array[Doc] = {
      val nExact = (n * ExactShare).toInt
      val nNear = (n * NearShare).toInt
      val nPara = (n * ParaphraseShare).toInt
      val nOrig = n - nExact - nNear - nPara
      // seeded permutation of ids
      val ids = Array.tabulate(n)(_.toLong)
      for (k <- n - 1 to 1 by -1) {
        val r = below(h(seed, 40, k), k + 1)
        val t = ids(k); ids(k) = ids(r); ids(r) = t
      }
      def words(stream: Int, o: Long): Array[String] =
        Array.tabulate(Words)(k => Vocab(below(h(seed, stream, o * 256 + k), Vocab.length)))
      def gauss(stream: Int, o: Long, k: Int): Double = {
        val u1 = math.max(unit(h(seed, stream, o * 512 + 2 * k)), 1e-12)
        val u2 = unit(h(seed, stream, o * 512 + 2 * k + 1))
        math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
      }
      def unitVec(v: Array[Double]): Array[Float] = {
        val nrm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / nrm).toFloat)
      }
      val origWords = Array.tabulate(nOrig)(o => words(41, o))
      val origVec = Array.tabulate(nOrig)(o => Array.tabulate(Dim)(k => gauss(42, o, k)))
      val docs = new Array[Doc](n)
      var slot = 0
      for (o <- 0 until nOrig) {
        docs(slot) = Doc(ids(slot), origWords(o).mkString(" "), below(h(seed, 43, o), Topics),
          unit(h(seed, 44, slot)), unitVec(origVec(o)), o, Original)
        slot += 1
      }
      def copyOf(kind: Int): Doc = {
        val o = below(h(seed, 45, slot), nOrig)
        val text = kind match {
          case ExactCopy => origWords(o).mkString(" ")
          case NearCopy =>
            val w = origWords(o).clone()
            val subs = 1 + below(h(seed, 46, slot), 2)
            for (s <- 0 until subs)
              w(below(h(seed, 47, slot * 4L + s), Words)) =
                Vocab(below(h(seed, 48, slot * 4L + s), Vocab.length))
            w.mkString(" ")
          case _ => words(49, slot).mkString(" ")
        }
        val noisy = Array.tabulate(Dim)(k => docs(o).emb(k) + 0.01 * gauss(50, slot, k))
        Doc(ids(slot), text, docs(o).topic, unit(h(seed, 44, slot)), unitVec(noisy), o, kind)
      }
      for (_ <- 0 until nExact) { docs(slot) = copyOf(ExactCopy); slot += 1 }
      for (_ <- 0 until nNear) { docs(slot) = copyOf(NearCopy); slot += 1 }
      for (_ <- 0 until nPara) { docs(slot) = copyOf(Paraphrase); slot += 1 }
      docs
    }

    /** 3-word-shingle Jaccard, the similarity Dedup.minhashLshPairs verifies. */
    def jaccard(a: String, b: String): Double = {
      def sh(s: String): Set[String] = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val (x, y) = (sh(a), sh(b))
      (x intersect y).size.toDouble / (x union y).size
    }

    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var k = 0
      while (k < a.length) { d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
      d / math.sqrt(na * nb)
    }
  }
}
