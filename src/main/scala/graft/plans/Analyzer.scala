package graft.plans

import graft.functions.{BruteForce, Classify, CodegenFunction, DecodeConfig}
import graft.model.Messages
import graft.operators.Parsers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The dead-letter analyzer dataflow (reference
 * DeadLetterAnalyzerTopology.buildTopology(), java:139-158), re-expressed as a
 * declarative Spark plan: DataFrame in (Kafka envelope columns), four
 * DataFrames out. Catalyst supplies analysis/optimization/codegen; the
 * only shuffle in the whole plan is the `groupBy(topic, type)` aggregation —
 * the same single repartition the reference performs
 * (DeadLetterAnalyzerTopology.java:194-197).
 *
 * Batch semantics here are the "batch twin" of the streaming topology in
 * [[graft.streaming.StreamingAnalyzer]]: same outputs, end-of-input snapshot
 * instead of per-record update stream (SURVEY §2.3 A1).
 */
object Analyzer {

  /** The four output streams (reference sinks S2–S5). */
  final case class Outputs(
      all: DataFrame, stats: DataFrame, examples: DataFrame, errors: DataFrame)

  /** Sink timestamp rendering (reference Formatter.java:42-64), configurable
    * via [[DecodeConfig]]: default is fixed-width `yyyy-MM-dd'T'HH:mm:ss.SSS`
    * in the session zone (pinned UTC — deterministic across hosts);
    * `timestampZone` renders the reference's host-zone wall clock;
    * `timestampOptionalParts` enables the `…THH:mm` / `…THH:mm:ss` short
    * forms when the sub-minute parts are zero. */
  def formatTimestamp(ts: Column)(implicit dc: DecodeConfig): Column = {
    val z = dc.timestampZone.map(zone => from_utc_timestamp(ts, zone)).getOrElse(ts)
    val full = date_format(z, "yyyy-MM-dd'T'HH:mm:ss.SSS")
    if (!dc.timestampOptionalParts) full
    else
      when(date_format(z, "ss.SSS") === "00.000",
          date_format(z, "yyyy-MM-dd'T'HH:mm"))
        .when(date_format(z, "SSS") === "000",
          date_format(z, "yyyy-MM-dd'T'HH:mm:ss"))
        .otherwise(full)
  }

  /** Elastic document id `{topic}+{partition}+{offset}` (reference
    * KeyedDeadLetterWithContext.java:51-54). */
  def elasticId(topic: Column, partition: Column, offset: Column): Column =
    format_string("%s+%d+%d", topic, partition, offset)

  /** Stats/examples key `{topic}:{type}` (reference DeadLetterAnalyzerTopology.java:74-76). */
  def errorKeyString(topic: Column, errorType: Column): Column =
    format_string("%s:%s", topic, errorType)

  // ---------------------------------------------------------------------------
  // Stage 1: four-way format dispatch + parse + union (T1-T8, U1)
  // ---------------------------------------------------------------------------

  /** Parse the envelope through all four format branches in a single pass.
    * The value is decoded once per record ([[BruteForce.withDecoded]]) and
    * the key rendered once (`key_string`), before dispatch; the four parsers
    * read those columns. Dispatch is additive (SURVEY §2.5.1): a record
    * matching several branch predicates is emitted once per matching branch —
    * `explode(array(...))` of four optional branch structs plus a null
    * filter, rather than a union of four filters, so the input (a 100 TB
    * Kafka scan at target scale) is read ONCE and the decode, dispatch and
    * parsers run in one whole-stage-codegen stage. The explode's input stays
    * an expression, not a column: on a column Catalyst infers a
    * `size(...) > 0` filter below the explode and fills it with a second copy
    * of the whole parse. Records matching no branch are dropped, like the
    * reference's unmatched records. Output = envelope columns + `key_string`
    * + `value_string` (the value's string rendering) + `branch` +
    * `parsed: struct(dead_letter, error)`. */
  def parsed(input: DataFrame)(implicit dc: DecodeConfig): DataFrame = {
    val d = col("__decoded"); val v = col("value_string")
    val h = col("headers"); val ts = col("timestamp")
    // each branch compiles to a method of its own: together, the four
    // parsers overflow the JIT's method-size limit (CodegenFunction)
    def branch(name: String, predicate: Column, parser: Column): Column =
      CodegenFunction.wrap(
        when(predicate, struct(lit(name).as("branch"), parser.as("parsed"))))
    val branches = array(
      branch("avro_value", Parsers.isAvroDeadLetter(d), Parsers.avroValue(d)),
      branch("streams_headers", Parsers.hasStreamsHeaders(h), Parsers.streamsHeaders(v, h, ts)),
      branch("native_headers", Parsers.hasNativeHeaders(h), Parsers.nativeHeaders(v, h, ts)),
      branch("connect_headers", Parsers.hasConnectHeaders(h), Parsers.connectHeaders(v, h, ts)))
    BruteForce.withDecoded(input, "value", "__decoded")
      .withColumns(Map(
        "key_string" -> coalesce(BruteForce.stringified(col("key")), lit("null")),
        "value_string" -> d.getField("text")))
      .withColumn("__branch", explode(branches))
      .filter(col("__branch").isNotNull)
      .withColumn("branch", col("__branch").getField("branch"))
      .withColumn("parsed", col("__branch").getField("parsed"))
      .drop("__branch", "__decoded")
  }

  // ---------------------------------------------------------------------------
  // Stage 2: context enrichment + classification (T10, T12)
  // ---------------------------------------------------------------------------

  /** Successfully parsed records enriched with consumer context and the
    * classified error type (reference ContextEnricher.java:35-79). A null
    * stack trace errors into the analyze channel — reproduced as an error
    * column, not an exception (SURVEY §2.5.3). Output columns:
    * `topic, partition, offset, timestamp, key_string, error_type,
    *  dead_letter, enrich_error`. */
  def enriched(parsedOk: DataFrame): DataFrame = {
    val dl = col("parsed").getField("dead_letter")
    val stackTrace = dl.getField("cause").getField("stack_trace")
    parsedOk
      .withColumn("dead_letter", dl)
      .withColumn("enrich_error", enrichErrorMessage(stackTrace))
      .withColumn("error_type", when(stackTrace.isNotNull, Classify.classify(stackTrace)))
      .drop("parsed")
  }

  // ---------------------------------------------------------------------------
  // Stage 3: outputs
  // ---------------------------------------------------------------------------

  /** Full pipeline over a raw envelope input. */
  def analyze(input: DataFrame)(implicit dc: DecodeConfig): Outputs = analyzeParsed(parsed(input))

  /** Pipeline from an already-parsed frame (the production topology is ONE
    * job fanning out to four sinks from a single parse pass; callers may
    * persist the parsed frame to share it). */
  def analyzeParsed(p: DataFrame)(implicit dc: DecodeConfig): Outputs = {
    val parseErrors = p.filter(col("parsed").getField("error").isNotNull)
    val ok = enriched(p.filter(col("parsed").getField("error").isNull))
    val analyzeErrors = ok.filter(col("enrich_error").isNotNull)
    val good = ok.filter(col("enrich_error").isNull)

    // Sink "all": one enriched record per dead letter (FullDeadLetterWithContext.avsc)
    val all = good.select(
      elasticId(col("topic"), col("partition"), col("offset")).as("key"),
      col("key_string").as("context_key"),
      col("offset"),
      col("partition"),
      formatTimestamp(col("timestamp")).as("timestamp"),
      col("dead_letter"),
      col("topic"),
      col("error_type").as("type"))

    // Sinks "stats" + "examples": one aggregation, two projections — mirrors the
    // reference sharing one stateful result between both sinks
    // (DeadLetterAnalyzerTopology.java:148-157). Single shuffle on (topic, type).
    val aggregated = good.groupBy(col("topic"), col("error_type").as("type")).agg(
      count(lit(1)).cast("int").as("count"),
      min(col("timestamp")).as("created"),
      max(col("timestamp")).as("updated"),
      min_by(
        struct(
          col("key_string").as("key"),
          col("offset").as("offset"),
          col("partition").as("partition"),
          formatTimestamp(col("timestamp")).as("timestamp"),
          col("dead_letter").as("dead_letter")),
        // arrival order: Kafka consumption order = offset within a partition;
        // branch name breaks the tie for records emitted by several dispatch
        // branches (additive dispatch, SURVEY §2.5.1). A zero-padded sortable
        // string so batch and oracle order identically.
        format_string("%020d:%s", col("offset"), col("branch"))).as("example"))

    val stats = aggregated.select(
      errorKeyString(col("topic"), col("type")).as("key"),
      col("count"),
      formatTimestamp(col("created")).as("created"),
      formatTimestamp(col("updated")).as("updated"),
      col("topic"),
      col("type"))

    val examples = aggregated.select(
      errorKeyString(col("topic"), col("type")).as("key"),
      col("example"),
      col("topic"),
      col("type"))

    Outputs(all, stats, examples, errorsOf(parseErrors, analyzeErrors))
  }

  /** Error channel (T11): both capture sites converted to dead letters with the
    * reference's fixed descriptions; key = stringified input key (S5). Shared
    * by the batch and streaming topologies. */
  def errorsOf(parseErrors: DataFrame, analyzeErrors: DataFrame): DataFrame =
    parseErrorDeadLetters(parseErrors)
      .unionByName(analyzeErrorDeadLetters(analyzeErrors))

  /** The enrichment-failure message for a null stack trace — ONE definition
    * shared by batch enrichment and the streaming stateless pass (reference:
    * `stackTrace.orElseThrow()` → NoSuchElementException("No value
    * present")). */
  private[graft] def enrichErrorMessage(stackTrace: Column): Column =
    when(stackTrace.isNull, lit("No value present"))

  /** Parse-failure dead-letter value (description "Error converting errors
    * to dead letters", reference DeadLetterAnalyzerTopology.java:128-137) —
    * shared by the batch error sink and the streaming stateless pass.
    * `inputValue` is the payload's string rendering ([[parsed]]'s
    * `value_string`). */
  private[graft] def parseErrorDl(err: Column, inputValue: Column,
      timestamp: Column): Column =
    errorDeadLetter(
      description = lit(Messages.ErrorConvertingErrors),
      errorClass = when(err.startsWith("For input string"),
          lit("java.lang.NumberFormatException"))
        .otherwise(lit("java.lang.IllegalArgumentException")),
      message = err,
      inputValue = inputValue,
      timestamp = timestamp)

  /** Analyze-failure dead-letter value (description "Error analyzing dead
    * letter", reference DeadLetterAnalyzerTopology.java:115-124) — shared by
    * the batch error sink and the streaming stateless pass. */
  private[graft] def analyzeErrorDl(message: Column, deadLetter: Column,
      timestamp: Column): Column =
    errorDeadLetter(
      description = lit(Messages.ErrorAnalyzing),
      errorClass = lit("java.util.NoSuchElementException"),
      message = message,
      inputValue = to_json(deadLetter),
      timestamp = timestamp)

  private def parseErrorDeadLetters(parseErrors: DataFrame): DataFrame =
    parseErrors.select(
      col("key_string").as("key"),
      parseErrorDl(col("parsed").getField("error"), col("value_string"),
        col("timestamp")).as("dead_letter"))

  private def analyzeErrorDeadLetters(analyzeErrors: DataFrame): DataFrame =
    analyzeErrors.select(
      col("key_string").as("key"),
      analyzeErrorDl(col("enrich_error"), col("dead_letter"),
        col("timestamp")).as("dead_letter"))

  /** DeadLetter for the engine's own processing failure (reference
    * AvroDeadLetterConverter semantics): the synthetic stack trace holds
    * `class: message` — the real Java trace does not exist in a declarative
    * plan; classification of these still lands on the exception class via the
    * first-line fallback, exactly as the reference's feedback loop does.
    * Shared with the streaming topology's aggregate error capture. */
  private[graft] def errorDeadLetter(description: Column, errorClass: Column,
      message: Column, inputValue: Column, timestamp: Column): Column =
    struct(
      inputValue.as("input_value"),
      lit(null).cast("int").as("partition"),
      lit(null).cast("string").as("topic"),
      lit(null).cast("long").as("offset"),
      description.as("description"),
      struct(
        errorClass.as("error_class"),
        message.as("message"),
        concat(errorClass, lit(": "), message).as("stack_trace")).as("cause"),
      timestamp.as("input_timestamp"))
}
