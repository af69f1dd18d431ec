package graft

import graft.functions.{BruteForce, DeadLetterJson, DecodeConfig}
import graft.model.{Headers => H}
import graft.operators.Parsers
import graft.plans.Analyzer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Port of the reference per-parser tests (StreamsDeadLetterParserTest /
  * NativeStreamsDeadLetterParserTest / ConnectDeadLetterParserTest): happy
  * paths, optional/null headers, exact error messages. */
class ParserSpec extends SparkSpec {
  import Fixtures._

  private def parseOne(row: Row): Row = {
    val p = Analyzer.parsed(envelopeDf(Seq(row)))
    p.select(col("branch"), col("parsed.error"), col("parsed.dead_letter.*")).head()
  }

  private val streamsHappy = Seq(
    h(H.Partition, "1"), h(H.Topic, "my-topic"), h(H.Offset, "10"),
    h(H.Description, "description"),
    h(H.ExceptionClassName, "org.apache.kafka.connect.errors.DataException"),
    h(H.ExceptionMessage, "my message"), h(H.ExceptionStackTrace, StackTrace))

  test("streams-header parser happy path") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", streamsHappy))
    assert(r.getString(0) == "streams_headers")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "value") // input_value
    assert(r.getInt(3) == 1) // partition
    assert(r.getString(4) == "my-topic")
    assert(r.getLong(5) == 10L)
    assert(r.getString(6) == "description")
    val cause = r.getStruct(7)
    assert(cause.getString(0) == "org.apache.kafka.connect.errors.DataException")
    assert(cause.getString(1) == "my message")
    assert(cause.getString(2) == StackTrace)
  }

  test("streams-header parser: missing required header") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value",
      streamsHappy.filterNot(_.getString(0) == H.Topic)))
    assert(r.getString(1) == s"Missing required header ${H.Topic}")
  }

  test("streams-header parser: null int header value") {
    val hs = h(H.Partition, null) +: streamsHappy.filterNot(_.getString(0) == H.Partition)
    // lastHeader wins: put the null occurrence LAST
    val r = parseOne(rec("t", 0, 0, 0, "key", "value",
      streamsHappy.filterNot(_.getString(0) == H.Partition) :+ h(H.Partition, null)))
    assert(r.getString(1) == "Cannot parse int from null")
  }

  test("streams-header parser: faulty legacy offset header accepted") {
    val hs = streamsHappy.map(r =>
      if (r.getString(0) == H.Offset) h(H.FaultyOffset, "10") else r)
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.isNullAt(1))
    assert(r.getLong(5) == 10L)
  }

  test("streams-header parser: real offset wins over faulty when both present") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value",
      streamsHappy :+ h(H.FaultyOffset, "99")))
    assert(r.getLong(5) == 10L)
  }

  test("streams-header parser: message header present with null value") {
    val hs = streamsHappy.map(r =>
      if (r.getString(0) == H.ExceptionMessage) h(H.ExceptionMessage, null) else r)
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.isNullAt(1))
    assert(r.getStruct(7).isNullAt(1)) // cause.message null
  }

  test("streams-header parser: duplicate header -> last value wins") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value",
      streamsHappy :+ h(H.Partition, "7")))
    assert(r.getInt(3) == 7)
  }

  private val nativeHappy = Seq(
    h(H.NativePartitionName, "1"), h(H.NativeTopicName, "my-topic"),
    h(H.NativeOffsetName, "10"), h(H.NativeProcessorNodeIdName, "processor"),
    h(H.NativeTaskIdName, "task"),
    h(H.NativeExceptionName, "org.apache.kafka.connect.errors.DataException"),
    h(H.NativeExceptionMessageName, "my message"),
    h(H.NativeStacktraceName, StackTrace))

  test("native-streams parser happy path: synthesized description") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", nativeHappy))
    assert(r.isNullAt(1))
    assert(r.getString(6) == "Error in processor node processor in task task")
  }

  test("native-streams parser: [unknown] defaults") {
    val hs = nativeHappy.filterNot(r =>
      r.getString(0) == H.NativeProcessorNodeIdName || r.getString(0) == H.NativeTaskIdName)
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.getString(6) == "Error in processor node [unknown] in task [unknown]")
  }

  private val connectHappy = Seq(
    h(H.ConnectOrigPartition, "1"), h(H.ConnectOrigTopic, "my-topic"),
    h(H.ConnectOrigOffset, "10"), h(H.ConnectStage, "VALUE_CONVERTER"),
    h(H.ConnectExecutingClass, "org.apache.kafka.connect.json.JsonConverter"),
    h(H.ConnectException, "org.apache.kafka.connect.errors.DataException"),
    h(H.ConnectTaskId, "2"), h(H.ConnectConnectorName, "my-connector"),
    h(H.ConnectExceptionMessage, "my message"),
    h(H.ConnectExceptionStackTrace, StackTrace))

  test("connect parser happy path: templated description") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", connectHappy))
    assert(r.isNullAt(1))
    assert(r.getString(6) ==
      "Error in stage VALUE_CONVERTER (org.apache.kafka.connect.json.JsonConverter) in my-connector[2]")
  }

  test("connect parser: optional originals absent -> nulls, still parses") {
    val hs = connectHappy.filterNot(r => r.getString(0).startsWith(H.ConnectPrefix) &&
      Set(H.ConnectOrigPartition, H.ConnectOrigTopic, H.ConnectOrigOffset)(r.getString(0)))
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.isNullAt(1))
    assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5))
  }

  test("connect parser: unparseable task id") {
    val hs = connectHappy.map(r =>
      if (r.getString(0) == H.ConnectTaskId) h(H.ConnectTaskId, "NaN") else r)
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.getString(1) == "For input string: \"NaN\"")
  }

  test("avro-value branch parses the JSON dead letter") {
    val r = parseOne(rec("t", 0, 0, 0, "key", deadLetterJson(StackTrace), Seq()))
    assert(r.getString(0) == "avro_value")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "foo")
    assert(r.getString(6) == "description")
    assert(r.getStruct(7).getString(2) == StackTrace)
  }

  test("record with both streams and connect headers parses once per branch") {
    val p = Analyzer.parsed(envelopeDf(Seq(
      rec("t", 0, 0, 0, "key", "value", streamsHappy ++ connectHappy))))
    val branches = p.select(col("branch")).collect().map(_.getString(0)).sorted
    assert(branches.sameElements(Array("connect_headers", "streams_headers")))
  }

  test("record matching no branch is dropped") {
    assert(Analyzer.parsed(envelopeDf(Seq(
      rec("t", 0, 0, 0, "key", "value", Seq(h("some-other-header", "x")))))).count() == 0)
  }

  test("binary (non-UTF8) value is hex-rendered as input_value") {
    val row = Row("t", 0, 0L, new java.sql.Timestamp(0),
      utf8("key"), Array[Byte](0, -1, -2), streamsHappy)
    val r = parseOne(row)
    assert(r.getString(2) == "00fffe")
  }

  // ---- Confluent wire-format Avro tier (reference BruteForceSerde tries
  // schema-registry Avro FIRST, DeadLetterAnalyzerTopology.java:102-105) ----

  private val deadLetterAvroSchema = """{"type":"record","name":"DeadLetter","fields":[
    {"name":"input_value","type":["null","string"],"default":null},
    {"name":"partition","type":["null","int"],"default":null},
    {"name":"topic","type":["null","string"],"default":null},
    {"name":"offset","type":["null","long"],"default":null},
    {"name":"description","type":"string"},
    {"name":"cause","type":{"type":"record","name":"ErrorDescription","fields":[
      {"name":"error_class","type":["null","string"],"default":null},
      {"name":"message","type":["null","string"],"default":null},
      {"name":"stack_trace","type":["null","string"],"default":null}]}},
    {"name":"input_timestamp","type":["null","long"],"default":null}]}"""

  /** The decoded struct of each row's `value`, flattened. */
  private def decode(df: org.apache.spark.sql.DataFrame, dc: DecodeConfig) =
    BruteForce.withDecoded(df, "value", "d")(dc).select("d.*")

  private def confluentFrame(schemaJson: String, schemaId: Int,
      fill: org.apache.avro.generic.GenericData.Record => Unit): Array[Byte] = {
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val record = new org.apache.avro.generic.GenericData.Record(schema)
    fill(record)
    val baos = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get.binaryEncoder(baos, null)
    new org.apache.avro.generic.GenericDatumWriter[
      org.apache.avro.generic.GenericRecord](schema).write(record, enc)
    enc.flush()
    java.nio.ByteBuffer.allocate(5 + baos.size).put(0: Byte).putInt(schemaId)
      .put(baos.toByteArray).array
  }

  test("binary Avro dead letter decodes end-to-end through the Confluent tier") {
    val spark2 = spark
    import spark2.implicits._
    val framed = confluentFrame(deadLetterAvroSchema, 7, { r =>
      val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
      val cause = new org.apache.avro.generic.GenericData.Record(
        schema.getField("cause").schema())
      cause.put("error_class", "java.lang.RuntimeException")
      cause.put("message", "boom")
      cause.put("stack_trace", StackTrace)
      r.put("input_value", "foo"); r.put("partition", 3)
      r.put("topic", "orig-topic"); r.put("offset", 42L)
      r.put("description", "description"); r.put("cause", cause)
      r.put("input_timestamp", 200L)
    })
    val d = decode(Seq(Tuple1(framed)).toDF("value"),
      DecodeConfig(Map(7 -> deadLetterAvroSchema))).head()
    assert(d.getAs[String]("kind") == "dead_letter")
    val dl = d.getAs[Row]("dead_letter")
    assert(dl.getAs[String]("input_value") == "foo")
    assert(dl.getAs[Int]("partition") == 3)
    assert(dl.getAs[String]("topic") == "orig-topic")
    assert(dl.getAs[Long]("offset") == 42L)
    assert(dl.getAs[String]("description") == "description")
    assert(dl.getAs[Row]("cause").getAs[String]("error_class")
      == "java.lang.RuntimeException")
    assert(dl.getAs[Row]("cause").getAs[String]("stack_trace") == StackTrace)
    assert(dl.getAs[java.sql.Timestamp]("input_timestamp").getTime == 200L)
  }

  test("framed Avro dead letter flows through the FULL topology via DecodeConfig") {
    implicit val dc: graft.functions.DecodeConfig =
      graft.functions.DecodeConfig(Map(7 -> deadLetterAvroSchema))
    val framed = confluentFrame(deadLetterAvroSchema, 7, { r =>
      val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
      val cause = new org.apache.avro.generic.GenericData.Record(
        schema.getField("cause").schema())
      cause.put("error_class", "java.lang.RuntimeException")
      cause.put("message", "boom")
      cause.put("stack_trace", StackTrace)
      r.put("description", "description"); r.put("cause", cause)
      r.put("input_timestamp", 200L)
    })
    val row = Row("t", 0, 0L, new java.sql.Timestamp(0), utf8("key"), framed,
      Seq[Row]())
    // dispatch must route the BINARY Avro value down the avro_value branch
    // and classify from its stack trace — the registry-Avro-first tier of
    // the reference's BruteForceSerde, end to end
    val out = Analyzer.analyze(envelopeDf(Seq(row)))
    val all = out.all.head()
    assert(all.getAs[String]("type") == StackTraceType)
    assert(all.getAs[Row]("dead_letter").getAs[String]("description") == "description")
    assert(out.errors.count() == 0)
  }

  test("decode chain resolves ids through the SchemaProvider seam (registry drop-in)") {
    val spark2 = spark
    import spark2.implicits._
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    // a NON-static provider (what an HTTP registry client would be): resolves
    // two distinct ids, counts lookups on the driver side of the closure
    val lookups = new java.util.concurrent.atomic.AtomicInteger(0)
    val provider = new graft.functions.SchemaProvider {
      override def schemaFor(id: Int): Option[String] = {
        lookups.incrementAndGet()
        id match {
          case 7 => Some(deadLetterAvroSchema)
          case 9 => Some(trSchema)
          case _ => None
        }
      }
      override def isActive: Boolean = true
    }
    val dlFrame = confluentFrame(deadLetterAvroSchema, 7, { r =>
      val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
      r.put("description", "d")
      r.put("cause", new org.apache.avro.generic.GenericData.Record(
        schema.getField("cause").schema()))
    })
    val trFrame = confluentFrame(trSchema, 9, _.put("id", 5))
    val rows = decode(Seq(Tuple1(dlFrame), Tuple1(trFrame), Tuple1(utf8("plain")))
      .toDF("value"), DecodeConfig(provider)).collect()
    assert(rows(0).getAs[String]("kind") == "dead_letter")
    assert(rows(1).getAs[String]("kind") == "avro")
    assert(rows(1).getAs[String]("text").replaceAll("\\s", "") == """{"id":5}""")
    assert(rows(2).getAs[String]("kind") == "string")
  }

  test("live HTTP registry client resolves, memoizes, and falls through") {
    val spark2 = spark
    import spark2.implicits._
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    // in-process registry speaking the Confluent REST shape
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { ex =>
      val id = ex.getRequestURI.getPath.stripPrefix("/schemas/ids/")
      hits.merge(id, 1, (a, b) => a + b)
      val resp =
        if (id == "7")
          new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
            .put("schema", deadLetterAvroSchema).toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        else Array.emptyByteArray
      ex.sendResponseHeaders(if (id == "7") 200 else 404,
        if (resp.isEmpty) -1 else resp.length)
      if (resp.nonEmpty) ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val provider = graft.functions.HttpRegistrySchemas(base,
        fallback = graft.functions.StaticSchemas(Map(9 -> trSchema)))
      val dlFrame = confluentFrame(deadLetterAvroSchema, 7, { r =>
        val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
        r.put("description", "d")
        r.put("cause", new org.apache.avro.generic.GenericData.Record(
          schema.getField("cause").schema()))
      })
      val trFrame = confluentFrame(trSchema, 9, _.put("id", 5))
      val unknownFrame = confluentFrame(trSchema, 13, _.put("id", 6))
      // many rows in ONE action: the per-id lookup must be memoized per
      // executor, not re-queried per record
      val rows = decode((Seq.fill(50)(Tuple1(dlFrame)) ++
          Seq(Tuple1(trFrame), Tuple1(unknownFrame)))
        .toDF("value").coalesce(1), DecodeConfig(provider)).collect()
      assert(rows.take(50).forall(_.getAs[String]("kind") == "dead_letter"))
      // 404 for id 9 -> static fallback resolves it (registry-first chain)
      assert(rows(50).getAs[String]("kind") == "avro")
      assert(rows(50).getAs[String]("text").replaceAll("\\s", "") == """{"id":5}""")
      // 404 for id 13 and no fallback entry -> non-Avro fall-through
      assert(rows(51).getAs[String]("kind") != "dead_letter" &&
        rows(51).getAs[String]("kind") != "avro")
      assert(hits.get("7") != null && hits.get("7") <= 4,
        s"expected memoized lookups for id 7, saw ${hits.get("7")}")
    } finally server.stop(0)
  }

  test("registry client retries transient 5xx and then succeeds") {
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { ex =>
      val n = calls.incrementAndGet()
      if (n <= 2) { ex.sendResponseHeaders(503, -1); ex.close() }
      else {
        val resp = new com.fasterxml.jackson.databind.ObjectMapper()
          .createObjectNode().put("schema", trSchema).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    server.start()
    try {
      val p = graft.functions.HttpRegistrySchemas(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      assert(p.schemaFor(9).contains(trSchema)) // 503, 503, 200
      assert(calls.get() == 3)
    } finally server.stop(0)
  }

  test("registry client retries 429 throttling (honoring Retry-After) and then succeeds") {
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { ex =>
      val n = calls.incrementAndGet()
      if (n == 1) {
        // throttled must NOT resolve to a definitive miss (it would poison
        // the per-executor decode memo); client waits Retry-After and retries
        ex.getResponseHeaders.add("Retry-After", "0")
        ex.sendResponseHeaders(429, -1); ex.close()
      } else {
        val resp = new com.fasterxml.jackson.databind.ObjectMapper()
          .createObjectNode().put("schema", trSchema).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    server.start()
    try {
      val p = graft.functions.HttpRegistrySchemas(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      assert(p.schemaFor(9).contains(trSchema)) // 429, 200
      assert(calls.get() == 2)
    } finally server.stop(0)
  }

  test("non-dead-letter Avro records render as their JSON toString (ErrorUtil parity)") {
    val spark2 = spark
    import spark2.implicits._
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    val framed = confluentFrame(trSchema, 1, _.put("id", 1))
    val d = decode(Seq(Tuple1(framed)).toDF("value"),
      DecodeConfig(Map(1 -> trSchema))).head()
    assert(d.getAs[String]("kind") == "avro")
    assert(d.getAs[String]("text").replaceAll("\\s", "") == """{"id":1}""")
    assert(d.isNullAt(d.fieldIndex("dead_letter")))
  }

  test("unknown schema id and unconfigured decode fall through the chain") {
    val spark2 = spark
    import spark2.implicits._
    val framed = confluentFrame(deadLetterAvroSchema, 99, { r =>
      val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
      r.put("description", "d")
      r.put("cause", new org.apache.avro.generic.GenericData.Record(
        schema.getField("cause").schema()))
    })
    // id 99 is not in the configured map -> not decoded as Avro
    val d = decode(Seq(Tuple1(framed)).toDF("value"),
      DecodeConfig(Map(7 -> deadLetterAvroSchema))).head()
    assert(d.getAs[String]("kind") != "dead_letter" && d.getAs[String]("kind") != "avro")
    // no schema map at all (the default decode) -> same fall-through
    val d2 = decode(Seq(Tuple1(framed)).toDF("value"), DecodeConfig.default).head()
    assert(d2.getAs[String]("kind") != "dead_letter" && d2.getAs[String]("kind") != "avro")
  }

  // ---- differential property: DeadLetterJson vs from_json ----

  /** Payload bytes for the dead-letter decode: valid dead letters, wrong
    * field types, duplicate keys, truncated JSON, a quoted "description"
    * inside strings or plain text, and non-UTF-8 bytes. */
  private val payloads: org.scalacheck.Gen[Array[Byte]] = {
    import org.scalacheck.Gen
    import graft.model.JsonText.str
    val text = Gen.oneOf(Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.const("tab\tnew\nline \"q\" back\\slash caf\u00e9 \u2713"),
      Gen.const("a \"description\" inside"))
    def opt[A](g: Gen[A], render: A => String) =
      Gen.option(g).map(_.map(render).getOrElse("null"))
    val cause = for {
      ec <- opt(text, str); msg <- opt(text, str); st <- opt(text, str)
    } yield s"""{"error_class":$ec,"message":$msg,"stack_trace":$st}"""
    val fields = for {
      iv <- opt(text, str); part <- opt(Gen.choose(-5, 5000), (i: Int) => i.toString)
      topic <- opt(text, str); off <- opt(Gen.choose(0L, Long.MaxValue), (l: Long) => l.toString)
      desc <- text; c <- cause; ts <- opt(Gen.choose(0L, 4102444800000L), (l: Long) => l.toString)
    } yield Seq(s""""input_value":$iv""", s""""partition":$part""", s""""topic":$topic""",
      s""""offset":$off""", s""""description":${str(desc)}""", s""""cause":$c""",
      s""""input_timestamp":$ts""")
    val valid = for {
      fs <- fields; order <- Gen.pick(fs.size, fs.indices); drop <- Gen.choose(0, 2)
    } yield order.drop(drop).map(fs).mkString("{", ",", "}")
    val wrongType = for {
      fs <- fields; i <- Gen.choose(0, fs.size - 1)
      bad <- Gen.oneOf("\"x\"", "1.5", "true", "[1,2]", "{\"a\":1}", "99999999999999999999")
    } yield fs.updated(i, fs(i).takeWhile(_ != ':') + ":" + bad).mkString("{", ",", "}")
    val duplicate = for { v <- valid; d <- text }
      yield v.dropRight(1) + s""","description":${str(d)}}"""
    val truncated = for { v <- valid; n <- Gen.choose(0, v.length) } yield v.take(n)
    val quoted = for { t <- text; pre <- Gen.oneOf("{\"message\":", "say ", "[") }
      yield pre + str("the \"description\" of " + t)
    val utf8Payload = Gen.oneOf(valid, wrongType, duplicate, truncated, quoted, text)
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val invalidUtf8 = for {
      v <- valid; i <- Gen.choose(0, v.length)
      bad <- Gen.oneOf(Seq(0xff), Seq(0xc3), Seq(0xe2, 0x28, 0xa1), Seq(0x80, 0x80))
    } yield {
      val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      b.take(i) ++ bad.map(_.toByte) ++ b.drop(i)
    }
    Gen.frequency(8 -> utf8Payload, 2 -> invalidUtf8, 1 -> Gen.const(null))
  }

  private def checkProp(p: org.scalacheck.Prop): Unit = {
    val r = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(org.scalacheck.rng.Seed(20261018L)), p)
    assert(r.passed, r.status.toString)
  }

  /** The frame through an RDD, so the optimizer cannot fold the projection
    * into a local relation and every row runs the planned code. */
  private def framed(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("DeadLetterJson equals from_json with whole-stage codegen on and off") {
    import org.apache.spark.sql.functions.from_json
    import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("value", BinaryType)))
    // whole-stage codegen; row-based generated projections; interpreted eval
    val modes = Seq(Seq("true", "FALLBACK"), Seq("false", "CODEGEN_ONLY"), Seq("false", "NO_CODEGEN"))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    checkProp(org.scalacheck.Prop.forAllNoShrink(org.scalacheck.Gen.listOfN(40, payloads)) { ps =>
      val df = framed(ps.zipWithIndex.map { case (p, i) => Row(i, p) }, schema)
      val txt = col("value").cast("string")
      def rows(c: org.apache.spark.sql.Column) =
        df.select(col("id"), c.as("j")).collect().map(r => r.getInt(0) -> r.get(1)).toMap
      org.scalacheck.Prop.all(modes.map { mode =>
        keys.zip(mode).foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          val expected = rows(from_json(txt, BruteForce.deadLetterJson))
          val actual = rows(DeadLetterJson.parse(txt))
          org.scalacheck.Prop.propBoolean(actual == expected) :| s"modes $mode: " +
            actual.filter(kv => expected(kv._1) != kv._2).toSeq.sortBy(_._1).take(3)
        } finally keys.foreach(spark.conf.unset)
      }: _*)
    })
  }

  test("every generated envelope row parses ok or becomes a parse error, once per branch") {
    import org.apache.spark.sql.functions.{coalesce, from_json, is_valid_utf8, lit}
    val envelopes = for {
      ps <- org.scalacheck.Gen.listOfN(30, payloads)
      hs <- org.scalacheck.Gen.listOfN(30, org.scalacheck.Gen.oneOf(
        Seq.empty[Row], streamsHappy,
        streamsHappy.map(r => if (r.getString(0) == H.Partition) h(H.Partition, "x") else r)))
    } yield ps.zip(hs).zipWithIndex.map { case ((p, hdr), i) =>
      Row("t", 0, i.toLong, new java.sql.Timestamp(0), utf8(s"k$i"), p, hdr)
    }
    checkProp(org.scalacheck.Prop.forAllNoShrink(envelopes) { rows =>
      val env = framed(rows, graft.model.Schemas.kafkaEnvelope)
      // the expected branches, from Spark's own from_json
      val txt = col("value").cast("string")
      val dl = from_json(txt, BruteForce.deadLetterJson)
      val expected = env.select(col("offset"),
        coalesce(is_valid_utf8(txt) && txt.contains("\"description\"") &&
          dl.getField("description").isNotNull && dl.getField("cause").isNotNull,
          lit(false)).as("avro"),
        (org.apache.spark.sql.functions.size(col("headers")) > 0).as("streams"))
        .collect().map { r =>
          r.getLong(0) -> (Seq("avro_value").filter(_ => r.getBoolean(1)) ++
            Seq("streams_headers").filter(_ => r.getBoolean(2))).toSet
        }.toMap
      val p = Analyzer.parsed(env)
      val got = p.select(col("offset"), col("branch"), col("parsed.error").isNull)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      val byOffset = got.groupBy(_._1).map { case (o, rs) => o -> rs.map(_._2).toSeq }
      val out = Analyzer.analyze(env)
      // each (record, branch) exactly once; ok rows reach `all` or, with a
      // null stack trace, the error sink; failed parses reach the error sink
      expected.forall { case (o, bs) =>
          byOffset.getOrElse(o, Seq.empty).sorted == bs.toSeq.sorted } &&
        out.all.count() + out.errors.count() == got.length &&
        out.errors.count() >= got.count(!_._3)
    })
  }

  // ---- plan shape of the production topology ----

  test("unified plan: one decode per fork, every parse operator in whole-stage codegen") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Hex, JsonToStructs, ArrayFilter}
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark2.sqlContext
    val stream = MemoryStream[ParserSpec.Envelope]
    val q = graft.streaming.StreamingAnalyzer.unified(stream.toDF())
      .writeStream.format("memory").queryName("unified_plan_shape")
      .outputMode("append").start()
    try {
      stream.addData(ParserSpec.Envelope("t", 0, 0L, new java.sql.Timestamp(0),
        utf8("key"), utf8(deadLetterJson(StackTrace)), Seq()))
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      // operators a stage boundary leaves to the interpreter
      def outside(p: SparkPlan): Seq[SparkPlan] = p match {
        case w: WholeStageCodegenExec => inside(w.child)
        case o => o +: o.children.flatMap(outside)
      }
      def inside(p: SparkPlan): Seq[SparkPlan] = p match {
        case i: InputAdapter => outside(i.child)
        case o => o.children.flatMap(inside)
      }
      val interpreted = outside(plan).filter {
        case _: GenerateExec | _: ProjectExec => true
        case _ => false
      }
      assert(interpreted.isEmpty, s"interpreted operators:\n$plan")
      val exprs = plan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case e => e })
      assert(!exprs.exists(_.isInstanceOf[JsonToStructs]), plan.toString)
      assert(!exprs.exists(_.isInstanceOf[ArrayFilter]), plan.toString)
      // the source forks twice (stateless and stateful pass, AnalyzerMain's
      // caveat); each fork decodes the value and renders the key once
      assert(exprs.count(_.isInstanceOf[DeadLetterJson]) == 2, plan.toString)
      def hexOf(name: String) = exprs.count {
        case Hex(a: Attribute) => a.name == name
        case _ => false
      }
      assert(hexOf("value") == 2 && hexOf("key") == 2, plan.toString)
      // every generated method stays under HotSpot's 8,000-byte limit for JIT
      // compilation (`-XX:+DontCompileHugeMethods`), which each parser
      // branch's own method (CodegenFunction) keeps the explode under
      val sizes = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
        .map(_._3.maxMethodCodeSize)
      assert(sizes.nonEmpty && sizes.max <= 8000, sizes)
    } finally q.stop()
  }
}

object ParserSpec {
  final case class Header(key: String, value: Array[Byte])
  final case class Envelope(topic: String, partition: Int, offset: Long,
      timestamp: java.sql.Timestamp, key: Array[Byte], value: Array[Byte],
      headers: Seq[Header])
}
