package cepbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EventPatterns
import graft.operators.EventPatterns.EventRow
import graft.pattern.{AfterMatchSkip, NFA, NfaRunner, Pattern}

/** Reference results computed in the harness JVM, outside every timed region:
  * each key's events sorted by `(ts, event_id)` and fed to `NFA.run`.
  *
  * Canonical rows, compared as multisets with the front-ends' output:
  *  - Pattern DSL / stream: `kind,user_id,alarm_s,topup_s` (`topup_s` empty
  *    for a timeout), times in epoch seconds, second-truncated as in
  *    `EventPatterns.detect`;
  *  - MATCH_RECOGNIZE: `user_id,alarm_s,topup_s,n_b`.
  */
object Oracle {

  /** `q_mr_low_balance` in DSL terms: the same shape with STRICT loop
    * internals, as `MrQueriesSpec` pins it. */
  val strictPattern: Pattern[EventRow] =
    Pattern.begin[EventRow]("A", AfterMatchSkip.SkipPastLastEvent)
      .where(_.event_type == "error")
      .next("B").where(e => e.event_type == "view" || e.event_type == "click")
      .oneOrMore.optional.consecutive
      .next("C").where(_.event_type == "purchase")
      .within(EventPatterns.WithinMs)

  def sec(us: Long): Long = Math.floorDiv(us, 1000000L)

  def dslRow(kind: String, uid: Long, alarmUs: Long, topupUs: Long): String =
    if (kind == "match") s"match,$uid,${sec(alarmUs)},${sec(topupUs)}"
    else s"timeout,$uid,${sec(alarmUs)},"

  /** Per-key sorted event runs, largest key first. */
  def keyRuns(spark: SparkSession, dir: String): Seq[(Long, Array[EventRow])] = {
    import spark.implicits._
    val rows = graft.sources.Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"event_type")
      .as[EventRow].collect()
    java.util.Arrays.sort(rows, Ordering.by((e: EventRow) => (e.user_id, e.ts_us, e.event_id)))
    val out = Seq.newBuilder[(Long, Array[EventRow])]
    var i = 0
    while (i < rows.length) {
      var j = i
      while (j < rows.length && rows(j).user_id == rows(i).user_id) j += 1
      out += rows(i).user_id -> java.util.Arrays.copyOfRange(rows, i, j)
      i = j
    }
    out.result().sortBy(r => -r._2.length)
  }

  final case class Result(dsl: Vector[String], mr: Vector[String], matches: Long, timeouts: Long)

  def run(runs: Seq[(Long, Array[EventRow])]): Result = {
    val dsl = Vector.newBuilder[String]
    val mr = Vector.newBuilder[String]
    var nm = 0L
    var nt = 0L
    runs.foreach { case (uid, evs) =>
      val (ms, tos) = NFA.run(evs.iterator, (e: EventRow) => e.ts_us / 1000L, EventPatterns.pattern)
      ms.foreach(m => m.first("A").zip(m.first("C")).foreach { case (a, c) =>
        dsl += dslRow("match", uid, a.ts_us, c.ts_us); nm += 1
      })
      tos.foreach(t => t.first("A").foreach { a => dsl += dslRow("timeout", uid, a.ts_us, -1L); nt += 1 })
      val (sm, _) = NFA.run(evs.iterator, (e: EventRow) => e.ts_us / 1000L, strictPattern)
      sm.foreach(m => m.first("A").zip(m.first("C")).foreach { case (a, c) =>
        mr += s"$uid,${sec(a.ts_us)},${sec(c.ts_us)},${m("B").size}"
      })
    }
    Result(dsl.result(), mr.result(), nm, nt)
  }

  /** The most live partial matches the NFA holds at once over one key's
    * events, read after every event. */
  def livePartialsMax(evs: Array[EventRow]): Int = {
    val r = new NfaRunner[EventRow](EventPatterns.pattern, _.ts_us / 1000L)
    var max = 0
    evs.foreach { e =>
      r.onEvent(e)
      val n = r.snapshot().partials.size
      if (n > max) max = n
    }
    r.flush()
    max
  }

  /** `EventPatterns.detect` output rows in canonical form. */
  def fromDetect(rows: Array[Row]): Vector[String] = rows.toVector.map { r =>
    val a = r.getTimestamp(2).getTime * 1000L
    val t = if (r.isNullAt(3)) -1L else r.getTimestamp(3).getTime * 1000L
    dslRow(r.getString(0), r.getLong(1), a, t)
  }

  /** `MrQueries.lowBalance` output rows in canonical form. */
  def fromMr(rows: Array[Row]): Vector[String] = rows.toVector.map { r =>
    s"${r.getLong(0)},${r.getTimestamp(1).getTime / 1000L},${r.getTimestamp(2).getTime / 1000L},${r.getLong(3)}"
  }
}
