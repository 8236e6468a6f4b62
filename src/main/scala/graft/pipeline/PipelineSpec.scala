package graft.pipeline

import scala.jdk.CollectionConverters._

/** Declarative pipeline specs: a morphline config file (HOCON, the
  * reference's config language) compiled to a [[Pipeline]] through the
  * [[StandardOps]] registry. Compilation happens once on the driver
  * (MorphlineTransform.java:166-195 analogue); the result is a single
  * composed Catalyst plan.
  */
object PipelineSpec {

  /** Compile a morphline out of a real HOCON config file — the reference's
    * actual query language (`morphlines : [ { id, importCommands, commands :
    * [ {name {config}} ] } ]`, e.g. TESTR/identity.conf) — parsed by
    * [[Hocon]]. `importCommands` globs are accepted and ignored (command
    * resolution goes through the registry — the SPI equivalent).
    *
    * Morphline-default field wiring applies: parsers read from and write to
    * `_attachment_body` (the reference's Fields.ATTACHMENT_BODY) unless the
    * config says otherwise, and each `log*` command gets a unique
    * observation name (Spark requires observation names unique per query).
    */
  def fromHocon(hocon: String, morphlineId: String,
                registry: OpRegistry = StandardOps.registry,
                settings: Map[String, String] = Map.empty,
                env: String => Option[String] = sys.env.get): Pipeline = {
    import com.fasterxml.jackson.databind.JsonNode

    // The connector's override channel (MorphlineSinkTask.java:108,119-127):
    // `morphlines.*` connector settings parse into a config tree that wins
    // over the file (`override.withFallback(fileConfig)`), then `${path}` /
    // `${?path}` substitutions resolve against the merged root with env
    // fallback — so `morphlines.collection=c1` satisfies cloudsolr.conf's
    // `collection : ${collection}`.
    val overrides = settings.collect {
      case (k, v) if k.startsWith("morphlines.") =>
        k.stripPrefix("morphlines.") -> v
    }
    val root = Hocon.resolve(Hocon.parse(hocon), overrides, env)
    val morphlines = Option(root.get("morphlines"))
      .filter(_.isArray).map(_.elements.asScala.toSeq)
      .getOrElse(throw new IllegalArgumentException("no 'morphlines' array"))
    val m = morphlines
      .find(c => Option(c.get("id")).exists(_.asText == morphlineId))
      .getOrElse(throw new IllegalArgumentException(
        s"no morphline '$morphlineId'; available: " +
          morphlines.flatMap(c => Option(c.get("id")).map(_.asText))
            .mkString(", ")))

    // arrays join with the unit separator so elements holding commas
    // survive the string carrier (StandardOps.splitList splits them back)
    def scalarOf(v: JsonNode): String =
      if (v.isArray) v.elements.asScala.map(scalarOf).mkString("\u001F")
      else v.asText
    // nested blocks (paths, mappings) flatten to the registry's "k:v,..."
    def flatten(v: JsonNode): String =
      if (v.isObject)
        v.properties.asScala.toSeq // Set → Seq first: keep config order
          .map(e => s"${e.getKey}:${scalarOf(e.getValue)}")
          .mkString(",")
      else scalarOf(v)

    // Morphline parsers replace the attachment body in place
    // (Fields.ATTACHMENT_BODY); the registry's own defaults (the
    // StandardOps.compile path) are named output columns instead, so the
    // in-place defaults are injected only here.
    val inPlace = Map(
      "readJson" -> Map("field" -> "_attachment_body",
        "outputField" -> "_attachment_body"),
      "readCSV" -> Map("field" -> "_attachment_body",
        "outputField" -> "_attachment_body"),
      "readAvro" -> Map("field" -> "_attachment_body",
        "outputField" -> "_attachment_body"),
      "extractJsonPaths" -> Map("field" -> "_attachment_body"),
      "extractAvroPaths" -> Map("field" -> "_attachment_body"),
      "enrichJson" -> Map("valueField" -> "_attachment_body"))

    val commands = Option(m.get("commands")).filter(_.isArray)
      .getOrElse(throw new IllegalArgumentException(
        s"morphline '$morphlineId' has no commands array"))

    // counter across ALL nesting levels so log observation names stay unique
    // even when `if`/`tryRules` branches each carry their own log commands
    val cmdSeq = new java.util.concurrent.atomic.AtomicInteger(0)
    def fold(ops: Seq[Op]): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => ops.foldLeft(df)((d, op) => op(d))

    def buildOps(arr: JsonNode): Seq[Op] = {
      require(arr != null && arr.isArray, s"expected a commands array, got: $arr")
      arr.elements.asScala.toSeq.map(buildOne)
    }

    def buildOne(cmd: JsonNode): Op = {
      val idx = cmdSeq.getAndIncrement()
      val entries = cmd.properties.asScala.toSeq
      require(entries.size == 1, s"morphline command must have one key: $cmd")
      val (name, cfgVal) = (entries.head.getKey, entries.head.getValue)
      name match {
        // control-flow commands hold nested command lists, not scalar
        // config — compile them recursively
        case "if" =>
          val cond = org.apache.spark.sql.functions.expr(
            Option(cfgVal.get("condition")).map(_.asText).getOrElse(
              throw new IllegalArgumentException("if needs a 'condition'")))
          val thenOps = Option(cfgVal.get("then")).map(buildOps).getOrElse(Nil)
          val elseOps = Option(cfgVal.get("else")).map(buildOps).getOrElse(Nil)
          graft.ops.ControlOps.ifThenElse(cond, fold(thenOps), fold(elseOps))
        case "tryRules" =>
          val rules = Option(cfgVal.get("rules")).filter(_.isArray)
            .getOrElse(throw new IllegalArgumentException(
              "tryRules needs a 'rules' array"))
            .elements.asScala.toSeq.map { rule =>
              val cond = org.apache.spark.sql.functions.expr(
                rule.get("condition").asText)
              (cond, fold(buildOps(rule.get("commands"))))
            }
          graft.ops.ControlOps.tryRules(rules,
            Option(cfgVal.get("catchAll")).map(ca => fold(buildOps(ca))))
        case "pipe" =>
          Op.pipe(Pipeline(
            Option(cfgVal.get("id")).map(_.asText).getOrElse("nested"),
            buildOps(cfgVal.get("commands"))))
        // Kite `not { <command> {...} }`: the value is itself a one-key
        // command block; compile it and invert its predicate. The legacy
        // scalar field/value form falls through to the registry below.
        case "not" if cfgVal.isObject && cfgVal.size() == 1 &&
            !cfgVal.has("field") =>
          graft.ops.ControlOps.notOp(buildOne(cfgVal))
        case _ =>
          val raw: Map[String, String] =
            if (cfgVal.isObject)
              cfgVal.properties.asScala.flatMap { e =>
                // object-valued configs (solrLocator, properties blocks) are
                // exposed both flattened ("k:v,...") and as dotted keys
                // ("solrLocator.collection") so ops can read sub-fields
                // without re-parsing
                val dotted =
                  if (e.getValue.isObject)
                    e.getValue.properties.asScala.toSeq.map(s =>
                      // flatten, not scalarOf: a deeper object-valued
                      // sub-entry flattens to "k:v,..." instead of asText's ""
                      s"${e.getKey}.${s.getKey}" -> flatten(s.getValue))
                  else Nil
                (e.getKey -> flatten(e.getValue)) +: dotted
              }.toMap
            else Map.empty
          val cfg0 = inPlace.getOrElse(name, Map.empty) ++ raw
          val cfg =
            if (name.startsWith("log") && !cfg0.contains("name"))
              cfg0 + ("name" -> s"${name}_$idx") // unique observation names
            else cfg0
          registry.build(name, cfg)
      }
    }
    Pipeline(morphlineId, connectEnvelopeAliases +: buildOps(commands))
  }

  /** The reference's envelope field names (`_value`, `_topic`, …;
    * MorphlineTransform.java:130-150) aliased onto the Spark Kafka-source
    * column names, so `valueField : _value` and `@{_topic}` interpolations
    * in a real `.conf` resolve. Zero-cost projections, added only when the
    * unprefixed column exists.
    */
  private def connectEnvelopeAliases: Op = Op("connectEnvelope") { df =>
    import org.apache.spark.sql.functions.col
    Seq("value" -> "_value", "key" -> "_key", "topic" -> "_topic",
      "partition" -> "_kafkaPartition", "offset" -> "_kafkaOffset",
      "timestamp" -> "_timestamp")
      .foldLeft(df) { case (d, (src, dst)) =>
        if (d.columns.contains(src) && !d.columns.contains(dst))
          d.withColumn(dst, col(src))
        else d
      }
  }

  /** [[fromHocon]] over a config file path — the `morphlineFile@morphlineId`
    * entry point (MorphlineSinkTask.java:96-110).
    */
  def fromHoconFile(path: String, morphlineId: String,
                    registry: OpRegistry = StandardOps.registry,
                    settings: Map[String, String] = Map.empty,
                    env: String => Option[String] = sys.env.get): Pipeline =
    fromHocon(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"), morphlineId, registry,
      settings, env)
}
