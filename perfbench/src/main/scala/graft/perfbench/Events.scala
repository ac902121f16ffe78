package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ingest.PurchaseEvents

/** Seeded purchase-event timestamps for `serve` and `ingest`.
  *
  * Event i lands at `BaseMs + i * StepMs + jitter(i)`, with a seeded
  * millisecond jitter in [0, StepMs): timestamps are unique and
  * increasing, and `user_id` (`"user_" + ts % 1000` in the reference's
  * generator) spreads over all thousand users. The engine only ever sees
  * the timestamps, through `PurchaseEvents.fromTimestampMs`.
  */
final class Events(seed: Long) {
  import Events._

  private def jitter(i: Long): Long = {
    // SplitMix64 of (seed, i): a pure function of the index, so any
    // range of events can be generated on its own
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, StepMs)
  }

  def ts(i: Long): Long = BaseMs + i * StepMs + jitter(i)

  def timestamps(from: Long, until: Long): Array[Long] = Array.range(0, (until - from).toInt).map(k => ts(from + k))

  /** Events [from, until) as a one-partition DataFrame of full purchase events. */
  def frame(spark: SparkSession, from: Long, until: Long): DataFrame = {
    val rows = timestamps(from, until).toSeq.map(t => Row(t)).asJava
    PurchaseEvents.fromTimestampMs(
      spark.createDataFrame(rows, StructType(Seq(StructField("ts_ms", LongType, nullable = false))))
        .coalesce(1), "ts_ms")
  }
}

object Events {
  val BaseMs = 1741000000000L
  val StepMs = 1000L

  def userOf(ts: Long): String = "user_" + java.lang.Math.floorMod(ts, 1000L)

  /** `amount` in cents, as `PurchaseEvents` derives it from the timestamp. */
  def amountCents(ts: Long): Long = java.lang.Math.floorMod(ts / 10L, 1000L)
}
