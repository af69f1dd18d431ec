package graft.operators

import graft.functions.HeaderOps
import graft.functions.HeaderOps._
import graft.model.{Headers => H, Messages, Schemas}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The three header-based dead-letter parsers (reference
 * StreamsDeadLetterParser / NativeStreamsDeadLetterParser /
 * ConnectDeadLetterParser, SURVEY §2.2 T5–T8), as pure column expressions over
 * the Kafka envelope.
 *
 * Each parser yields `struct(dead_letter, error)`: `error` carries the first
 * failure in the reference's sequential `orElseThrow` order, so the record can
 * be routed to the error channel instead of killing the job (T11; SURVEY
 * §2.5.2).
 *
 * The parsers never decode the payload themselves: they read the record's
 * decoded value (a [[graft.functions.BruteForce.withDecoded]] struct, or its
 * `text` rendering), which [[graft.plans.Analyzer.parsed]] computes once per
 * record before dispatch. Every expression here has generated code, so the dispatch and all
 * four parsers run inside whole-stage codegen.
 */
object Parsers {

  /** Branch-dispatch predicates (reference DeadLetterAnalyzerTopology.java:160-185).
    * Additive, not exclusive: a record matching several is processed once per
    * branch (SURVEY §2.5.1). */
  def isAvroDeadLetter(decoded: Column): Column =
    decoded.getField("kind") === "dead_letter"
  def hasStreamsHeaders(headers: Column): Column =
    HeaderOps.hasHeader(headers, H.ExceptionClassName)
  def hasNativeHeaders(headers: Column): Column =
    HeaderOps.hasHeader(headers, H.NativeExceptionName)
  def hasConnectHeaders(headers: Column): Column =
    HeaderOps.hasHeader(headers, H.ConnectConnectorName)

  private def result(deadLetter: Column, err: Column): Column =
    struct(deadLetter.as("dead_letter"), err.as("error"))

  private def deadLetterStruct(inputValue: Column, partition: Column, topic: Column,
      offset: Column, description: Column, errorClass: Column, message: Column,
      stackTrace: Column, inputTimestamp: Column): Column =
    struct(
      inputValue.cast("string").as("input_value"),
      partition.cast("int").as("partition"),
      topic.cast("string").as("topic"),
      offset.cast("long").as("offset"),
      description.cast("string").as("description"),
      struct(
        errorClass.cast("string").as("error_class"),
        message.cast("string").as("message"),
        stackTrace.cast("string").as("stack_trace")).as("cause"),
      inputTimestamp.cast("timestamp").as("input_timestamp"))

  /** Format #1: the value already is a dead letter (reference
    * DeadLetterAnalyzerTopology.java:98-100). Never errors — dispatch
    * guarantees the shape. */
  def avroValue(decoded: Column): Column =
    result(decoded.getField("dead_letter"), lit(null).cast("string"))

  /** Format #2a: bakdata error-handling headers (reference
    * StreamsDeadLetterParser.java:44-90). Value passes through as
    * `input_value` (`inputValue`: the payload's string rendering); the record
    * timestamp is propagated. */
  def streamsHeaders(inputValue: Column, headers: Column, timestamp: Column): Column = {
    val partition = reqInt(headers, H.Partition)
    val topic = reqString(headers, H.Topic)
    val offset = reqLongWithFallback(headers, H.Offset, H.FaultyOffset)
    val description = reqString(headers, H.Description)
    val errorClass = reqString(headers, H.ExceptionClassName)
    val message = presentString(headers, H.ExceptionMessage)
    val stackTrace = reqString(headers, H.ExceptionStackTrace)
    val err = coalesce(partition.err, topic.err, offset.err, description.err,
      errorClass.err, message.err, stackTrace.err)
    result(
      deadLetterStruct(inputValue, partition.value, topic.value,
        offset.value, description.value, errorClass.value, message.value,
        stackTrace.value, timestamp),
      err)
  }

  /** Format #2b: native Kafka Streams DLQ headers, KIP-1034 (reference
    * NativeStreamsDeadLetterParser.java:44-87). Description is synthesized
    * with `[unknown]` defaults. */
  def nativeHeaders(inputValue: Column, headers: Column, timestamp: Column): Column = {
    val partition = reqInt(headers, H.NativePartitionName)
    val topic = optString(headers, H.NativeTopicName)
    val offset = reqLong(headers, H.NativeOffsetName)
    val processorNodeId = optString(headers, H.NativeProcessorNodeIdName)
    val taskId = optString(headers, H.NativeTaskIdName)
    val errorClass = reqString(headers, H.NativeExceptionName)
    val message = optString(headers, H.NativeExceptionMessageName)
    val stackTrace = reqString(headers, H.NativeStacktraceName)
    val err = coalesce(partition.err, offset.err, errorClass.err, stackTrace.err)
    val description = format_string(Messages.NativeDescriptionTemplate,
      coalesce(processorNodeId.value, lit(Messages.Unknown)),
      coalesce(taskId.value, lit(Messages.Unknown)))
    result(
      deadLetterStruct(inputValue, partition.value, topic.value,
        offset.value, description, errorClass.value, message.value,
        stackTrace.value, timestamp),
      err)
  }

  /** Format #3: Kafka Connect DLQ headers (reference
    * ConnectDeadLetterParser.java:46-92). Original topic/partition/offset are
    * optional; the stage/class/connector/task fields are required and fill the
    * description template. */
  def connectHeaders(inputValue: Column, headers: Column, timestamp: Column): Column = {
    val partition = optInt(headers, H.ConnectOrigPartition)
    val topic = optString(headers, H.ConnectOrigTopic)
    val offset = optLong(headers, H.ConnectOrigOffset)
    val stage = reqString(headers, H.ConnectStage)
    val clazz = reqString(headers, H.ConnectExecutingClass)
    val errorClass = optString(headers, H.ConnectException)
    val taskId = reqInt(headers, H.ConnectTaskId)
    val connectorName = reqString(headers, H.ConnectConnectorName)
    val message = optString(headers, H.ConnectExceptionMessage)
    val stackTrace = optString(headers, H.ConnectExceptionStackTrace)
    val err = coalesce(partition.err, offset.err, stage.err, clazz.err,
      taskId.err, connectorName.err)
    val description = format_string(Messages.ConnectDescriptionTemplate,
      stage.value, clazz.value, connectorName.value, taskId.value)
    result(
      deadLetterStruct(inputValue, partition.value, topic.value,
        offset.value, description, errorClass.value, message.value,
        stackTrace.value, timestamp),
      err)
  }

  /** Null dead-letter struct with the envelope's schema — used when a branch
    * errors out. */
  def nullDeadLetter: Column = lit(null).cast(Schemas.deadLetter)
}
