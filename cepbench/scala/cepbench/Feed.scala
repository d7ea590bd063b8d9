package cepbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input of one workload: `events` rows in the testdata `events` schema
  * (`event_id, ts, user_id, event_type, value, props`), made from the seed
  * alone. `event_id` increases with `ts`, as in the testdata table.
  *
  * @param hotShare share of events given to key 0 (the hot key); the rest
  *                 spread uniformly over keys `1 .. keys-1`
  */
final case class Feed(events: Long, keys: Long, hotShare: Double) {

  val T0Us: Long = 1704067200000000L // 2024-01-01 00:00:00 UTC, the testdata start
  val spanUs: Long = 30L * 86400L * 1000000L // 30 days of event time

  def generate(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    def h(salt: Int) = xxhash64($"id", lit(seed), lit(salt))
    val types = array(Seq("signup", "view", "click", "error", "purchase").map(lit): _*)
    val step = spanUs / events
    spark.range(events).select(
      $"id".as("event_id"),
      timestamp_micros(lit(T0Us) + $"id" * step + pmod(h(1), lit(step))).as("ts"),
      (if (hotShare > 0)
        when(pmod(h(2), lit(1000000L)) < (hotShare * 1000000).toLong, lit(0L))
          .otherwise(lit(1L) + pmod(h(3), lit(keys - 1)))
      else pmod(h(3), lit(keys))).as("user_id"),
      element_at(types, (pmod(h(4), lit(5L)) + 1).cast("int")).as("event_type"),
      (pmod(h(5), lit(20000L)) / 100.0).as("value"),
      format_string("{\"k\": %d}", pmod(h(6), lit(100L))).as("props"))
  }

  /** Write the events table as `<dir>/events.parquet`. With `groups > 0`
    * the table is partitioned into that many event-time ranges
    * (`grp=0 .. groups-1`, by `event_id`, which orders `ts`), and a last
    * group `<dir>/sentinel` holds one event two hours after the end: its
    * watermark passes every `within` deadline, so a stream fed all groups
    * emits every timeout a batch run flushes. The sentinel key (-1) starts
    * no partial match. Returns the group directories in feeding order. */
  def stage(spark: SparkSession, seed: Long, dir: Path, groups: Int): Seq[Path] = {
    import spark.implicits._
    val table = dir.resolve("events.parquet")
    val ev = generate(spark, seed)
    if (groups == 0) {
      ev.write.mode("overwrite").parquet(table.toString)
      Nil
    } else {
      ev.withColumn("grp", ($"event_id" * groups / events).cast("int"))
        .repartition(groups, $"grp")
        .write.mode("overwrite").partitionBy("grp").parquet(table.toString)
      val sentinel = dir.resolve("sentinel")
      Seq((-1L, T0Us + spanUs + 2L * 3600 * 1000000L, -1L, "signup", 0.0, "{}"))
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id",
          $"event_type", $"value", $"props")
        .coalesce(1).write.mode("overwrite").parquet(sentinel.toString)
      (0 until groups).map(g => table.resolve(s"grp=$g")) :+ sentinel
    }
  }

  /** A lower bound of the latest event time (ms) in each staged group:
    * group `g` ends with event `(g+1)·events/groups - 1`, whose `ts` is at
    * least `T0 + id·step`. The stream feeder waits for the watermark to
    * pass it. */
  def groupWatermarksMs(groups: Int): Seq[Long] = {
    val step = spanUs / events
    (0 until groups).map { g =>
      val lastId = ((g + 1) * events + groups - 1) / groups - 1
      (T0Us + lastId * step) / 1000L
    } :+ (T0Us + spanUs + 2L * 3600 * 1000000L) / 1000L
  }

  /** Parquet data files of one staged group directory. */
  def groupFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      finally s.close()
    }
}
