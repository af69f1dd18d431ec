package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.plans.Analyzer
import graft.streaming.StreamingAnalyzer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

/** What the bench-side sink saw of one micro-batch. `endMs` is set when the
  * last of the batch's writes returns: the batch's emit time. */
final class BatchSinks {
  val rows = new ConcurrentHashMap[String, java.lang.Long]()
  val writeNs = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var endMs: Long = -1L
}

/** One committed micro-batch: its progress report joined with its sinks.
  * Ids `[startValue, endValue)` are the generator ids it consumed. */
final case class Batch(id: Long, startMs: Long, startValue: Long, endValue: Long,
    durationMs: Map[String, Long], progress: StreamingQueryProgress,
    sinks: BatchSinks) {
  def rows: Long = endValue - startValue
  def triggerMs: Long = durationMs.getOrElse("triggerExecution", 0L)
  def emitMs: Long = sinks.endMs
}

/**
 * A running stream of one of three shapes, all fed by the same records:
 * `full` is the production four-sink topology (`unified` + `fanOut`) with a
 * bench-side writer standing in for the Kafka sink; `state` stops after the
 * statistics operator; `parse` after the four-way parse. The last two are
 * the traced run's stage split.
 */
final class StreamRun(spark: SparkSession, val mode: String, input: DataFrame,
    val checkpoint: String, idsOf: String => Long) {
  import StreamRun._

  val sinks = new ConcurrentHashMap[Long, BatchSinks]()
  @volatile private var halted = false

  /** Ends the measurement: the next sink write fails its batch, so the
    * query stops without paying for one more micro-batch. */
  def halt(): Unit = halted = true

  private def batchSinks(frame: Dataset[_]): BatchSinks = {
    if (halted) throw new IllegalStateException("perfbench: measurement over")
    val id = frame.sparkSession.sparkContext.getLocalProperty(BatchIdKey).toLong
    sinks.computeIfAbsent(id, _ => new BatchSinks)
  }

  /** The Kafka-sink stand-in: one job per sink frame that reads every row's
    * value bytes, as a producer would. */
  private def write(name: String, frame: DataFrame): Unit = {
    val b = batchSinks(frame)
    val t0 = System.nanoTime()
    val n = frame.agg(count(lit(1)), sum(length(col("value")))).head().getLong(0)
    b.writeNs.put(name, System.nanoTime() - t0)
    b.rows.put(name, n)
    if (name == StreamingAnalyzer.SinkNames.last) b.endMs = System.currentTimeMillis()
  }

  private def countSink(df: DataFrame) =
    df.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (frame: Dataset[Row], _: Long) =>
        val b = batchSinks(frame)
        val t0 = System.nanoTime()
        b.rows.put(mode, frame.count())
        b.writeNs.put(mode, System.nanoTime() - t0)
        b.endMs = System.currentTimeMillis()
        ()
    }.option("checkpointLocation", checkpoint)

  val query: StreamingQuery = {
    val writer = mode match {
      case "full" =>
        StreamingAnalyzer.fanOut(StreamingAnalyzer.unified(input), checkpoint)(write)
      case "state" =>
        val p = Analyzer.parsed(input)
        val good = Analyzer.enriched(p.filter(col("parsed").getField("error").isNull))
          .filter(col("enrich_error").isNull)
        countSink(StreamingAnalyzer.statResults(good, _ => (), None))
      case "parse" => countSink(Analyzer.parsed(input))
    }
    writer.queryName(s"perfbench_${mode}_${System.nanoTime()}").start()
  }

  /** Committed batches, in id order, that also finished their sink writes. */
  def batches: Vector[Batch] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Long, StreamingQueryProgress]
    query.recentProgress.foreach(p => seen(p.batchId) = p)
    seen.values.toVector.sortBy(_.batchId).flatMap { p =>
      val s = sinks.get(p.batchId)
      if (s == null || s.endMs < 0 || p.sources.isEmpty) None
      else {
        val (from, to) = (idsOf(p.sources(0).startOffset), idsOf(p.sources(0).endOffset))
        if (to <= from) None
        else Some(Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          from, to, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p, s))
      }
    }
  }

  /** Polls until `cond(batches)` holds or `deadlineMs` passes. */
  def await(deadlineMs: Long)(cond: Vector[Batch] => Boolean): Vector[Batch] = {
    var bs = batches
    while (!cond(bs) && System.currentTimeMillis() < deadlineMs) {
      query.exception.foreach(e => throw e)
      Thread.sleep(20)
      bs = batches
    }
    bs
  }

  def stop(): Unit = query.stop()
}

object StreamRun {
  /** The local property Spark sets on the thread running a micro-batch. */
  val BatchIdKey = "streaming.sql.batchId"

  private val Num = "\"offset\"\\s*:\\s*(\\d+)".r

  /** Generator ids covered by a `rate-micro-batch` offset. */
  def microBatchIds(json: String): Long =
    if (json == null) 0L
    else Num.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(json.trim.toLong)

  /** The `rate` source's creation time, the due time of id 0: the first
    * entry of its metadata log under the checkpoint (`v1\n<epoch ms>`). */
  def rateCreationMs(checkpoint: String): Long = {
    val f = java.nio.file.Paths.get(checkpoint, "sources", "0", "0")
    java.nio.file.Files.readAllLines(f).asScala.last.trim.toLong
  }
}

/** The `rate` source's schedule: after a linear ramp-up over the first
  * `rampS` seconds, `rowsPerSecond` ids a second (Spark's `valueAtSecond`).
  * A `rate` offset is whole seconds since the source was created. */
final case class RateSchedule(rowsPerSecond: Long, rampS: Long) {
  /** Ids offered in the first `s` seconds. */
  def idsAt(s: Long): Long = {
    val delta = rowsPerSecond / (rampS + 1)
    if (s > rampS) idsAt(rampS) + (s - rampS) * rowsPerSecond
    else if (s % 2 == 1) (s + 1) / 2 * delta * s
    else s / 2 * delta * (s + 1)
  }

  /** Generator ids covered by a `rate` offset. */
  def ids(json: String): Long = if (json == null) 0L else idsAt(json.trim.toLong)

  /** When id `v` is due, in ms after the source's creation: spread evenly
    * over the second that offers it. */
  def dueMs(v: Long): Double = {
    val s = if (v >= idsAt(rampS)) rampS + (v - idsAt(rampS)) / rowsPerSecond
      else (0L until rampS).find(s => idsAt(s + 1) > v).get
    s * 1000.0 + (v - idsAt(s)) * 1000.0 / (idsAt(s + 1) - idsAt(s))
  }

  /** The first id due at or after `ms` after creation, once the ramp is over. */
  def idAtMs(ms: Long): Long =
    idsAt(rampS) + math.ceil((ms - rampS * 1000L) * rowsPerSecond / 1000.0).toLong
}
