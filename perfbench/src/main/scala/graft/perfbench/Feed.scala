package graft.perfbench

import graft.sources.DeadLetterSource

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

final case class Hdr(key: String, value: Array[Byte])
final case class Rec(topic: String, partition: Int, offset: Long,
    timestamp: java.sql.Timestamp, key: Array[Byte], value: Array[Byte],
    headers: Seq[Hdr])

/** The base records, shared by every task thread of the local-mode
  * executors: the value a broadcast would resolve to in a local session,
  * without serializing 100k records once per run. */
object BaseTable {
  @volatile var records: Array[Rec] = Array.empty
}

/** A seeded replay order of the base records: `v -> (a * v + b) mod n` with
  * `gcd(a, n) = 1`, so every base record appears once per `n` ids. */
final case class Permutation(n: Int, a: Long, b: Long) {
  def apply(v: Long): Int = Math.floorMod(a * (v % n) + b, n.toLong).toInt
}

object Permutation {
  def fromSeed(n: Int, seed: Long): Permutation = {
    val rnd = new scala.util.Random(seed)
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    val a = Iterator.continually(1L + rnd.nextInt(n - 1)).find(gcd(_, n) == 1).get
    Permutation(n, a, rnd.nextInt(n).toLong)
  }
}

/**
 * The benchmark's input: an `events` table shaped like the seed-42 test
 * tables (100,000 rows, the sf0.1 size), turned into Kafka-envelope dead
 * letters by the program's own [[DeadLetterSource.envelope]], then replayed
 * by monotone id. Id `v` renders base record `perm(v mod n)` with its offset
 * shifted per replay epoch, so ids stay unique while the `(topic, type)` key
 * space stays fixed. Rendering runs in the executors' task threads against
 * [[BaseTable]].
 */
object Feed {
  val BaseRecords = 100000
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val EventsSeed = 42L

  /** Writes `events.parquet` under `dir`: event ids 0..n-1 over January 2024,
    * 1,500 users, five event types, 100 distinct `props`. Fixed content;
    * the workload seed only permutes the replay. */
  def writeEvents(spark: SparkSession, dir: String): Unit = {
    def h(salt: Int) = pmod(xxhash64(lit(EventsSeed), col("id"), lit(salt)), lit(1L << 30))
    spark.range(BaseRecords).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 25920000L +
        h(1) % 25920000L).as("ts"),
      (h(2) % 1500L).as("user_id"),
      element_at(array(EventTypes.map(lit): _*), (h(3) % 5L + 1L).cast("int"))
        .as("event_type"),
      ((h(4) % 20000L) / 100.0).as("value"),
      concat(lit("{\"k\": "), (h(5) % 100L).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** The envelope of `dir`'s events, collected in event-id order, so base
    * record `i` has offset `i`. */
  def baseRecords(spark: SparkSession, dir: String): Array[Rec] = {
    val rows = DeadLetterSource.envelope(spark, dir).collect()
    val base = rows.map { r =>
      Rec(r.getString(0), r.getInt(1), r.getLong(2), r.getTimestamp(3),
        r.getAs[Array[Byte]](4), r.getAs[Array[Byte]](5),
        r.getSeq[org.apache.spark.sql.Row](6)
          .map(x => Hdr(x.getString(0), x.getAs[Array[Byte]](1))))
    }.sortBy(_.offset)
    require(base.indices.forall(i => base(i).offset == i), "event ids are not 0..n-1")
    base
  }

  def render(base: Array[Rec], perm: Permutation, v: Long): Rec = {
    val r = base(perm(v))
    r.copy(offset = r.offset + (v / base.length + 1L) * 10000000L)
  }

  /** Kafka-shaped records for a frame of ids (streaming or batch). */
  def records(ids: Dataset[Long], perm: Permutation): DataFrame =
    ids.mapPartitions { it =>
      val b = BaseTable.records
      it.map(v => render(b, perm, v))
    }(Encoders.product[Rec]).toDF()

  def ids(df: DataFrame): Dataset[Long] =
    df.select(col("value").cast("long")).as[Long](Encoders.scalaLong)
}
