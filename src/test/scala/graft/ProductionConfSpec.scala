package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.io.Sinks
import graft.pipeline.PipelineSpec
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.functions._

/** The reference's PRODUCTION configs compiled VERBATIM through
  * `PipelineSpec.fromHoconFile` and run end-to-end:
  *
  *  - `config/cloudsolr.conf` (the flagship Solr chain, :1-84): `${?zkHost}`
  *    dropped, `${collection}` satisfied via the connector's `morphlines.*`
  *    override channel (MorphlineSinkTask.java:108,119-127), documents land
  *    in the pluggable Solr transport.
  *  - `TESTR/producer.conf` (:1-52 "rest", :53-104 "native"): optional env
  *    substitutions via the env hook, `kafkaProducer` produces (topic, key,
  *    avro-value) triples into the pluggable Kafka transport.
  *  - `config/morphlines.conf` (:2-52 "jsontoavropublish" — EP3): streaming
  *    file source → fromConnectData → readJson → dynamic `@{_topic}-avro`
  *    routing → registry-subject enrichJson → per-record-schema
  *    kafkaProducer, with checkpoint-restart no-reprocessing.
  */
class ProductionConfSpec extends SparkSpec {
  import spark.implicits._

  private val noEnv: String => Option[String] = _ => None

  private def resetEnvs(): Unit = {
    Sinks.SolrEnv.reset(); Sinks.KafkaEnv.reset()
    graft.schema.SchemaRegistryEnv.reset()
    ProductionConfSpec.solrDocs.clear(); ProductionConfSpec.kafkaMsgs.clear()
  }

  private def decodeAvro(schemaJson: String, bytes: Array[Byte]): Any = {
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val reader = new GenericDatumReader[Any](schema)
    reader.read(null, DecoderFactory.get().binaryDecoder(bytes, null))
  }

  test("cloudsolr.conf compiles verbatim and loads documents into the Solr transport") {
    resetEnvs()
    Sinks.SolrEnv.registerSchema("collection1",
      Seq("id", "name_s", "kafkaTimestamp", "create_dt", "uuid_s"))
    Sinks.SolrEnv.sender = (coll, docs) =>
      docs.foreach(d => ProductionConfSpec.solrDocs.add(coll -> d))

    val pipe = PipelineSpec.fromHoconFile(
      ReferenceConf.path("config/cloudsolr.conf"), "cloudsolr",
      settings = Map("morphlines.collection" -> "collection1"), env = noEnv)

    val input = Seq(
      ("""{"name": "quickstart-text-file-source", "config": {"topic":"twitter"}}""",
        "twitter", 0, 0L, 1484897702123L),
      ("""{"name": "second-source", "config": {"topic":"twitter"}}""",
        "twitter", 0, 1L, 1484897702124L))
      .toDF("value", "topic", "partition", "offset", "kafkaTimestamp")

    val rows = pipe(input).collect()
    assert(rows.length == 2)

    val docs = ProductionConfSpec.solrDocs.toArray
      .map(_.asInstanceOf[(String, Map[String, Any])]).toSeq
    assert(docs.size == 2)
    assert(docs.forall(_._1 == "collection1"))
    val fields = docs.head._2.keySet
    assert(fields == Set("id", "name_s", "kafkaTimestamp", "create_dt", "uuid_s"),
      s"sanitize let unknown fields through: $fields")
    val doc = docs.map(_._2)
      .find(_("name_s") == "quickstart-text-file-source").get
    assert(doc("kafkaTimestamp") == "2017-01-20T07:35:02.123Z")
    assert(doc("create_dt") == "2017-01-20T07:35:02.123Z")
    assert(doc("id").asInstanceOf[String].nonEmpty)
    assert(doc("uuid_s").asInstanceOf[String]
      .matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
  }

  test("producer.conf 'rest' morphline compiles verbatim and produces avro values") {
    resetEnvs()
    Sinks.KafkaEnv.sender = ms => ms.foreach(ProductionConfSpec.kafkaMsgs.add)
    val pipe = PipelineSpec.fromHoconFile(ReferenceConf.testConf("producer.conf"), "rest",
      env = k => if (k == "CONNECT_KAFKA_REST_URL")
        Some("http://localhost:8082") else None)

    val input = Seq(
      ("""{"firstName": "example", "age": 27}""", "test", 0, 0L))
      .toDF("value", "topic", "partition", "offset")
    val out = pipe(input).collect()
    assert(out.length == 1)

    val msgs = ProductionConfSpec.kafkaMsgs.toArray
      .map(_.asInstanceOf[(String, Array[Byte], Array[Byte])]).toSeq
    assert(msgs.size == 1)
    val (topic, key, value) = msgs.head
    assert(topic == "test-copy") // setValues topic : "@{_topic}-copy"
    assert(key == null) // no keyField in the config
    // valueSchemaString {"type":"string"}: avro string encoding of "test"
    assert(decodeAvro("\"string\"", value).toString == "test")
  }

  test("producer.conf 'native' morphline: optional env substitutions drop cleanly") {
    resetEnvs()
    Sinks.KafkaEnv.sender = ms => ms.foreach(ProductionConfSpec.kafkaMsgs.add)
    // no env at all: ${?CONNECT_BOOTSTRAP_SERVERS} etc drop, compile succeeds
    val pipe = PipelineSpec.fromHoconFile(ReferenceConf.testConf("producer.conf"), "native",
      env = noEnv)
    val input = Seq(("""{"x": 1}""", "t2", 0, 0L))
      .toDF("value", "topic", "partition", "offset")
    pipe(input).collect()
    val msgs = ProductionConfSpec.kafkaMsgs.toArray
      .map(_.asInstanceOf[(String, Array[Byte], Array[Byte])]).toSeq
    assert(msgs.map(_._1) == Seq("t2-copy"))
    assert(decodeAvro("\"string\"", msgs.head._3).toString == "test")
  }

  // ---------------------------------------------------------------- EP1 ---

  test("EP1 cloudsolr.conf through the streaming runner: epoch replays upsert, never duplicate") {
    resetEnvs()
    Sinks.SolrEnv.registerSchema("collection1",
      Seq("id", "name_s", "kafkaTimestamp", "create_dt", "uuid_s"))
    // keyed store simulating Solr's upsert-by-uniqueKey: a replayed doc
    // with the same id overwrites instead of duplicating
    val store = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()
    Sinks.SolrEnv.sender = (_, docs) =>
      docs.foreach(d => store.put(d("id").asInstanceOf[String], d))

    val pipe = PipelineSpec.fromHoconFile(
      ReferenceConf.path("config/cloudsolr.conf"), "cloudsolr",
      settings = Map("morphlines.collection" -> "collection1"), env = noEnv)

    // file-based stream in the Kafka envelope shape (EP3 pattern); the sink
    // path is loadSolr (config/cloudsolr.conf:74-78) via the pass-through
    // stage inside foreachBatch — the Connect task loop for the Solr chain
    val dir = java.nio.file.Files.createTempDirectory("graft-ep1")
    val stage = java.nio.file.Files.createTempDirectory("graft-ep1-stage")
    Seq(
      ("""{"name": "quickstart-text-file-source", "config": {"topic":"twitter"}}""",
        "twitter", 0, 0L, 1484897702123L),
      ("""{"name": "second-source", "config": {"topic":"twitter"}}""",
        "twitter", 0, 1L, 1484897702124L))
      .toDF("value", "topic", "partition", "offset", "kafkaTimestamp")
      .repartition(1).write.mode("overwrite").parquet(stage.toString)
    val part = java.nio.file.Files.list(stage).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      dir.resolve("b1.parquet"))

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "value STRING, topic STRING, partition INT, offset BIGINT, kafkaTimestamp BIGINT")
    def run(ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir.toString)
      val q = graft.streaming.StreamingOps.foreachBatchSink(stream, ckpt)(
        (batch, _) => { pipe(batch).count(); () }).start()
      q.processAllAvailable(); q.stop()
    }

    run(java.nio.file.Files.createTempDirectory("graft-ep1-ck1").toString)
    assert(store.size == 2, s"expected 2 docs, got ${store.size}")
    val firstIds = store.keySet().toArray.toSet
    val firstNames = store.values().toArray
      .map(_.asInstanceOf[Map[String, Any]]("name_s")).toSet
    assert(firstNames == Set("quickstart-text-file-source", "second-source"))

    // epoch REPLAY: a fresh checkpoint re-delivers the same file (the
    // at-least-once path after a checkpoint loss). generateSolrSequenceKey
    // derives id from name_s (config/cloudsolr.conf:62-67), so the replayed
    // docs carry the SAME keys and the keyed store stays at 2 — overwrite,
    // not duplicate. (uuid_s differs per replay; the uniqueKey must not.)
    run(java.nio.file.Files.createTempDirectory("graft-ep1-ck2").toString)
    assert(store.size == 2,
      s"replay duplicated documents: ${store.keySet()}")
    assert(store.keySet().toArray.toSet == firstIds,
      "deterministic key changed across replays — replays would duplicate in Solr")
  }

  // ---------------------------------------------------------------- EP3 ---

  private val personSchema =
    """{"type":"record","name":"Person","fields":[
      |{"name":"firstName","type":"string"},
      |{"name":"age","type":["null","int"],"default":null}]}""".stripMargin

  test("EP3 morphlines.conf: streaming json->avro publish with dynamic topics and checkpoint restart") {
    resetEnvs()
    Sinks.KafkaEnv.sender = ms => ms.foreach(ProductionConfSpec.kafkaMsgs.add)
    graft.schema.SchemaRegistryEnv.client = new graft.schema.InMemoryRegistry(
      Map("t1-avro-value" -> Seq(personSchema),
          "t2-avro-value" -> Seq(personSchema)))

    val pipe = PipelineSpec.fromHoconFile(
      ReferenceConf.path("config/morphlines.conf"), "jsontoavropublish",
      env = k => Map(
        "CONNECT_SCHEMA_REGISTRY_URL" -> "mock://registry",
        "CONNECT_KAFKA_REST_URL" -> "mock://rest").get(k))

    // file-based stream (no broker in this container): Kafka-envelope-shaped
    // rows arrive as files; foreachBatch applies the compiled pipeline —
    // exactly the Connect task loop (poll batch -> morphline -> produce)
    val dir = java.nio.file.Files.createTempDirectory("graft-ep3")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ep3-ckpt").toString
    // FileStreamSource wants a flat directory of files: stage each batch as
    // one parquet file moved into the watched dir
    def writeBatch(name: String, rows: Seq[(String, String, Int, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ep3-stage")
      rows.toDF("value", "topic", "partition", "offset")
        .repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        dir.resolve(s"$name.parquet"))
    }

    writeBatch("b1", Seq(
      ("""{"firstName": "example", "age": 27}""", "t1", 0, 0L),
      ("""{"firstName": "other", "age": 41}""", "t2", 0, 1L)))

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "value STRING, topic STRING, partition INT, offset BIGINT")
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir.toString)
      val q = graft.streaming.StreamingOps.foreachBatchSink(stream, ckpt)(
        (batch, _) => { pipe(batch).count(); () }).start()
      q.processAllAvailable(); q.stop()
    }
    run()

    def triples = ProductionConfSpec.kafkaMsgs.toArray
      .map(_.asInstanceOf[(String, Array[Byte], Array[Byte])]).toSeq
    val first = triples
    assert(first.map(_._1).sorted == Seq("t1-avro", "t2-avro"),
      s"dynamic @{_topic}-avro routing broke: ${first.map(_._1)}")
    val byTopic = first.map(t =>
      t._1 -> decodeAvro(personSchema, t._3).asInstanceOf[GenericRecord]).toMap
    assert(byTopic("t1-avro").get("firstName").toString == "example")
    assert(byTopic("t1-avro").get("age") == 27)
    assert(byTopic("t2-avro").get("firstName").toString == "other")
    assert(byTopic("t2-avro").get("age") == 41)

    // restart on the same checkpoint: nothing reprocessed, nothing re-sent
    run()
    assert(triples.size == first.size,
      s"checkpoint restart re-produced ${triples.size - first.size} messages")

    // a second file is a new micro-batch: only its rows are produced
    writeBatch("b2", Seq(
      ("""{"firstName": "third", "age": 7}""", "t1", 0, 2L)))
    run()
    val after = triples
    assert(after.size == first.size + 1)
    val extra = after.drop(first.size).head
    assert(extra._1 == "t1-avro")
    assert(decodeAvro(personSchema, extra._3)
      .asInstanceOf[GenericRecord].get("firstName").toString == "third")
  }

  test("EP3 over a live HTTP registry: CONNECT_SCHEMA_REGISTRY_URL resolves to a real endpoint") {
    resetEnvs()
    Sinks.KafkaEnv.sender = ms => ms.foreach(ProductionConfSpec.kafkaMsgs.add)
    // Confluent-REST-shaped stub: the verbatim config's
    // ${?CONNECT_SCHEMA_REGISTRY_URL} resolves to this endpoint and the
    // pipeline fetches schemas through HttpRegistryClient — no pluggable
    // client installed (SchemaRegistryEnv.client stays the empty default).
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: com.sun.net.httpserver.HttpExchange) => {
      val m = "^/subjects/([^/]+)/versions/latest$".r
        .findFirstMatchIn(x.getRequestURI.getRawPath)
      val resp: (Int, String) = m.map(_.group(1)) match {
        case Some("t1-avro-value") =>
          hits.incrementAndGet()
          val env = mapper.createObjectNode()
          env.put("subject", "t1-avro-value"); env.put("version", 1)
          env.put("id", 1); env.put("schema", personSchema)
          (200, mapper.writeValueAsString(env))
        case _ => (404, """{"error_code":40401,"message":"Subject not found"}""")
      }
      val bytes = resp._2.getBytes("UTF-8")
      x.sendResponseHeaders(resp._1, bytes.length)
      x.getResponseBody.write(bytes); x.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val pipe = PipelineSpec.fromHoconFile(
        ReferenceConf.path("config/morphlines.conf"), "jsontoavropublish",
        env = k => Map(
          "CONNECT_SCHEMA_REGISTRY_URL" -> url,
          "CONNECT_KAFKA_REST_URL" -> "mock://rest").get(k))
      val input = Seq(
        ("""{"firstName": "http", "age": 3}""", "t1", 0, 0L))
        .toDF("value", "topic", "partition", "offset")
      assert(pipe(input).collect().length == 1)
      val msgs = ProductionConfSpec.kafkaMsgs.toArray
        .map(_.asInstanceOf[(String, Array[Byte], Array[Byte])]).toSeq
      assert(msgs.map(_._1) == Seq("t1-avro"))
      val rec = decodeAvro(personSchema, msgs.head._3)
        .asInstanceOf[GenericRecord]
      assert(rec.get("firstName").toString == "http" && rec.get("age") == 3)
      assert(hits.get() >= 1, "pipeline never hit the HTTP registry")
    } finally server.stop(0)
  }

  test("unknown registry subject passes through un-enriched (warn-and-skip parity)") {
    resetEnvs()
    // registry knows nothing: enrichJson must not fail; valueSchema is null
    // and kafkaProducer skips the row (no schema to encode with)
    Sinks.KafkaEnv.sender = ms => ms.foreach(ProductionConfSpec.kafkaMsgs.add)
    val pipe = PipelineSpec.fromHoconFile(
      ReferenceConf.path("config/morphlines.conf"), "jsontoavropublish",
      env = k => Map(
        "CONNECT_SCHEMA_REGISTRY_URL" -> "mock://registry",
        "CONNECT_KAFKA_REST_URL" -> "mock://rest").get(k))
    val input = Seq(("""{"firstName": "x"}""", "tx", 0, 0L))
      .toDF("value", "topic", "partition", "offset")
    val out = pipe(input).collect()
    assert(out.length == 1) // record still flows downstream
    assert(ProductionConfSpec.kafkaMsgs.isEmpty)
  }

  // ------------------------------------------- live HTTP sink transports ---

  /** POST-recording stub; responds from `responses` in sequence. */
  private def withHttpStub(responses: Seq[(Int, String)])(
      body: (String, java.util.List[(String, String)]) => Unit): Unit = {
    val hits = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: com.sun.net.httpserver.HttpExchange) => {
      hits.add(x.getRequestURI.toString ->
        new String(x.getRequestBody.readAllBytes(), "UTF-8"))
      val (status, resp) =
        responses(math.min(n.getAndIncrement(), responses.size - 1))
      val bytes = resp.getBytes("UTF-8")
      x.sendResponseHeaders(status, bytes.length)
      x.getResponseBody.write(bytes); x.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", hits)
    finally server.stop(0)
  }

  test("producer.conf 'rest' through a LIVE REST-proxy stub incl. 50003 retry") {
    resetEnvs()
    // first POST answers the broker-transient error; the sender must retry
    // once and the avro value must arrive intact on the second attempt
    withHttpStub(Seq(
      (500, """{"error_code":50003,"message":"transient"}"""),
      (200, """{"offsets":[{"partition":0,"offset":0}]}"""))) { (url, hits) =>
      Sinks.KafkaEnv.sender = graft.io.HttpSenders.restProxyKafkaSender(url)
      val pipe = PipelineSpec.fromHoconFile(ReferenceConf.testConf("producer.conf"), "rest",
        env = k => if (k == "CONNECT_KAFKA_REST_URL") Some(url) else None)
      val input = Seq(("""{"firstName": "example", "age": 27}""", "test", 0, 0L))
        .toDF("value", "topic", "partition", "offset")
      assert(pipe(input).collect().length == 1)
      assert(hits.size == 2, "50003 must be retried exactly once")
      assert(hits.get(0)._1 == "/topics/test-copy" &&
        hits.get(0)._2 == hits.get(1)._2)
      // the bytes that arrived: base64 binary-v2 record -> avro string "test"
      val rec = new ObjectMapper().readTree(hits.get(1)._2)
        .get("records").get(0)
      val value = java.util.Base64.getDecoder.decode(rec.get("value").asText())
      assert(decodeAvro("\"string\"", value).toString == "test")
      assert(!rec.has("key"), "no keyField in the config -> key omitted")
    }
  }

  test("cloudsolr.conf through a LIVE Solr update stub: sanitized docs arrive") {
    resetEnvs()
    Sinks.SolrEnv.registerSchema("collection1",
      Seq("id", "name_s", "kafkaTimestamp", "create_dt", "uuid_s"))
    withHttpStub(Seq((200, """{"responseHeader":{"status":0}}"""))) {
      (url, hits) =>
        Sinks.SolrEnv.sender =
          graft.io.HttpSenders.solrHttpSender(url, commitWithinMs = 1000)
        val pipe = PipelineSpec.fromHoconFile(
          ReferenceConf.path("config/cloudsolr.conf"), "cloudsolr",
          settings = Map("morphlines.collection" -> "collection1"), env = noEnv)
        val input = Seq(
          ("""{"name": "quickstart-text-file-source", "config": {"topic":"twitter"}}""",
            "twitter", 0, 0L, 1484897702123L))
          .toDF("value", "topic", "partition", "offset", "kafkaTimestamp")
        assert(pipe(input).collect().length == 1)
        assert(hits.size == 1)
        val (path, body) = (hits.get(0)._1, hits.get(0)._2)
        assert(path == "/collection1/update?commitWithin=1000")
        val doc = new ObjectMapper().readTree(body).get(0)
        assert(doc.get("name_s").asText() == "quickstart-text-file-source")
        assert(doc.get("kafkaTimestamp").asText() == "2017-01-20T07:35:02.123Z")
        assert(scala.jdk.CollectionConverters.IteratorHasAsScala(
          doc.fieldNames()).asScala.toSet.subsetOf(
          Set("id", "name_s", "kafkaTimestamp", "create_dt", "uuid_s")),
          "sanitizeUnknownSolrFields must hold on the wire")
    }
  }
}

/** JVM-global collectors: the pass-through sink stages run on executor
  * threads (local mode = same JVM), so test state must be static.
  */
object ProductionConfSpec {
  val solrDocs = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
  val kafkaMsgs = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
}
