package cepbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.{GraftSession, SparkEntry}
import graft.operators.{BillingAlerts, EventPatterns}
import graft.operators.EventPatterns.{CepRaw, EventRow}
import graft.pattern.NFA
import graft.sql.{MatchRecognize, MrQueries}
import graft.streaming.CepStream

/** A workload: the input feed and the warm-up passes set-up runs. A timed
  * pass runs the Pattern DSL and MATCH_RECOGNIZE batch queries over the
  * staged table; the traced sweep also feeds the same events through
  * `CepStream` in event-time groups.
  *
  * @param warmPasses passes until pass times stop falling with JIT warm-up
  *                   (on 4 cores `cep_uniform` falls from about 1.9 s to
  *                   1.05 s over its first 14 passes; `cep_hotkey` settles
  *                   after about 3)
  */
final case class Workload(name: String, feed: Feed, warmPasses: Int)

object Workload {
  val StreamGroups = 3
  val all: Seq[Workload] = Seq(
    Workload("cep_uniform", Feed(events = 300000L, keys = 7500L, hotShare = 0.0), warmPasses = 14),
    Workload("cep_hotkey", Feed(events = 150000L, keys = 7500L, hotShare = 0.5), warmPasses = 8))
}

/** The benchmark's JVM side. `run.py` builds and starts it, then turns the
  * raw numbers it writes into the reported metrics.
  *
  * Usage: `cepbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --fixtures DIR --cores C`. Writes `DIR/raw.json` and the
  * row files the correctness checks compare. */
object Main {

  /** Declared queries that read only the `events` table — the part of
    * `SparkEntry.queries` a generated events feed can drive. */
  val SuiteQueries: Seq[String] = Seq(
    "q_attribution", "q_cdc_state", "q_cep_absence", "q_cep_funnel", "q_cep_low_balance",
    "q_cep_no_purchase", "q_cep_until", "q_dedup", "q_funnel_latency", "q_funnel_steps",
    "q_join_range", "q_join_skew_diagnose", "q_join_skew_salted", "q_join_temporal",
    "q_json_funcs", "q_mr_cycles", "q_mr_funnel_alt", "q_mr_low_balance", "q_mr_permute",
    "q_mr_skip_overlap", "q_path_transitions", "q_retention", "q_scd2", "q_seq_support",
    "q_seq_support3", "q_sessionize", "q_skyline", "q_split_temporal", "q_stats_ab_chi2",
    "q_ts_anomaly", "q_ts_cusum", "q_ts_ewma", "q_ts_gapfill", "q_ts_holt",
    "q_ts_holt_winters", "q_ts_twa", "q_window_count", "q_window_session",
    "q_window_sliding", "q_window_tumbling")

  /** The `q_mr_low_balance` body, parsed and lowered on its own to time the
    * `sql` layer's parse and build steps. */
  val LowBalanceSpec: String =
    """PARTITION BY user_id
      |ORDER BY ts, event_id
      |MEASURES A.ts AS alarm_ts0, C.ts AS topup_ts0, COUNT(B.*) AS n_b
      |ONE ROW PER MATCH
      |AFTER MATCH SKIP PAST LAST ROW
      |PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
      |DEFINE
      |  A AS A.event_type = 'error',
      |  B AS B.event_type = 'view' OR B.event_type = 'click',
      |  C AS C.event_type = 'purchase'""".stripMargin

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload.all.find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.quietAuditedWindowWarnings()
    try {
      val b = new Bench(spark, w, opt("seed").toLong, work, Paths.get(opt("fixtures")), cores)
      val raw = b.run(opt("seconds").toDouble, opt("trace") == "1", sessionS)
      Files.write(work.resolve("raw.json"),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(raw))
    } finally spark.stop()
  }
}

/** A feed staged for the stream front-end: the group directories in feeding
  * order and the watermark (ms) each group's timer trigger reaches. */
final case class Groups(dirs: Seq[Path], wmMs: Seq[Long])

final class Bench(spark: SparkSession, w: Workload, seed: Long, work: Path, fixtures: Path, cores: Int) {
  import spark.implicits._

  private val trace = new Trace(spark)
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private val checks = mutable.ArrayBuffer.empty[Map[String, String]]
  private val layers = mutable.LinkedHashMap.empty[String, Any]
  private val tracedStreams = mutable.ArrayBuffer.empty[StreamRun]

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[A](body: => A): (A, Double) = { val t0 = System.nanoTime(); val a = body; (a, secs(t0)) }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def median(xs: Seq[Double]) = Trace.median(xs)

  /** One operation counted in `attempted`; a thrown error is recorded by
    * name and counted as failed, never swallowed. */
  private def op[A](name: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { val a = body; Some((a, secs(t0))) }
    catch { case e: Exception => errors += s"$name: ${e.getClass.getName}: ${e.getMessage}"; None }
  }

  private val input = work.resolve("input")
  private val table = input.toString

  private def stageGroups(dir: Path): Groups =
    Groups(w.feed.stage(spark, seed, dir, Workload.StreamGroups),
      w.feed.groupWatermarksMs(Workload.StreamGroups))

  def run(seconds: Double, traced: Boolean, sessionS: Double): Map[String, Any] = {
    // ---- set-up: staging three times (median reported), first touch of the
    // table, and the warm-up: one run of each front-end that collects the
    // output the checks compare, then `warmPasses` passes as timed passes run
    val stageS = (0 until 3).map(_ => timed(w.feed.stage(spark, seed, input, 0))._2)
    val (_, firstTouchS) = timed(graft.sources.Tables.events(spark, table).count())
    val (got, warmS) = timed { val o = outputs(); (1 to w.warmPasses).foreach(_ => pass(0)); o }

    // ---- measured passes; a traced run interleaves untraced (U) and traced
    // (T) passes in whole blocks U T T U, so a drift of pass times with
    // warm-up cancels within each block when the overhead compares them
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    var gcS = 0.0
    var n = 0
    val start = System.nanoTime()
    while (secs(start) < seconds || passes.size < 2 || (traced && n % 4 != 0)) {
      n += 1
      if (traced && (n % 4 == 2 || n % 4 == 3)) {
        trace.enable()
        trace.pass = n
        val gc0 = Trace.gcSeconds()
        tracedS += pass(n)("wall_s").asInstanceOf[Double]
        gcS += Trace.gcSeconds() - gc0
        trace.disable()
      } else passes += pass(n)
    }
    val (tr, streamGot) = if (!traced) (Map.empty[String, Any], Map.empty[String, Vector[String]]) else {
      layers("jvm.gc_s") = gcS
      trace.enable()
      trace.pass = 0
      val (layerRaw, streamRows) = sweep()
      (layerRaw ++ Map("untraced_pass_s" -> passes.map(_("wall_s")).toSeq,
        "traced_pass_s" -> tracedS.toSeq), streamRows)
    }

    // ---- correctness, outside every timed region
    verify(got ++ streamGot, traced)
    fixture()

    Map(
      "workload" -> w.name, "seed" -> seed, "cores" -> cores, "events" -> w.feed.events,
      "setup" -> Map("session_s" -> sessionS, "stage_s" -> stageS,
        "first_touch_s" -> firstTouchS, "warm_s" -> warmS),
      "passes" -> passes.toSeq,
      "attempted" -> attempted, "errors" -> errors.toSeq, "checks" -> checks.toSeq,
      "trace" -> (if (traced) tr ++ Map("layers" -> layers.toMap, "spans" -> trace.spansJson)
        else Map.empty))
  }

  // ------------------------------------------------------------------ passes

  /** Every front-end of the workload once, output collected in canonical
    * form for the checks. */
  private def outputs(): Map[String, Vector[String]] =
    (op("dsl warm-up")(Oracle.fromDetect(EventPatterns.detect(spark, table).collect()))
      .map(r => "dsl_vs_nfa" -> r._1) ++
      op("mr warm-up")(Oracle.fromMr(MrQueries.lowBalance(spark, table).collect()))
        .map(r => "mr_vs_strict_nfa" -> r._1)).toMap

  /** One full pass of the workload's front-ends, output to the noop sink. */
  private def pass(n: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    val dsl = op("dsl")(trace.span("operators.dsl")(noop(EventPatterns.detect(spark, table)))).map(_._2)
    val mr = op("mr")(trace.span("sql.mr")(noop(MrQueries.lowBalance(spark, table)))).map(_._2)
    Map("wall_s" -> secs(t0), "busy_s" -> (dsl.getOrElse(0.0) + mr.getOrElse(0.0)),
      "events" -> 2 * w.feed.events, "ok" -> (dsl.isDefined && mr.isDefined))
  }

  final case class StreamRun(batchMs: Seq[Double], progress: Seq[StreamingQueryProgress],
      rows: Vector[String], ok: Boolean)

  /** Feed the event-time groups through `CepStream` in a closed loop: one
    * feeder lands a group (hard links into the watched directory), then
    * waits until the trigger whose watermark passes the group, and so fires
    * its timers, is committed. A fresh query and checkpoint per pass; the
    * output goes to the memory sink for the `stream_vs_nfa` check. */
  private def streamPass(n: Int, groups: Groups): StreamRun = {
    val base = work.resolve(s"stream/p$n-${System.nanoTime()}")
    val in = Files.createDirectories(base.resolve("in"))
    val schema = spark.read.parquet(groups.dirs.last.toString).schema
    val ds = spark.readStream.schema(schema).parquet(in.toString)
      .withWatermark("ts", "0 seconds")
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"event_type")
      .as[EventRow]
    val out = CepStream.matchPattern[Long, EventRow, CepRaw](
      ds, _.user_id, _.ts_us / 1000L, EventPatterns.pattern,
      (uid: Long, m: NFA.PatternMatch[EventRow]) =>
        m.first("A").zip(m.first("C")).map { case (a, c) => CepRaw("match", uid, a.ts_us, c.ts_us) },
      (uid: Long, t: NFA.PatternTimeout[EventRow]) =>
        t.first("A").map(a => CepRaw("timeout", uid, a.ts_us, -1L)))
    val qName = s"cepbench_p${math.abs(n)}"
    val writer = out.writeStream.outputMode("append")
      .option("checkpointLocation", base.resolve("ckpt").toString)
    val batchMs = mutable.ArrayBuffer.empty[Double]
    var ok = true
    attempted += 1
    val q = trace.span("streaming.start")(writer.format("memory").queryName(qName).start())
    try {
      groups.dirs.zip(groups.wmMs).zipWithIndex.foreach { case ((g, wm), i) =>
        val t0 = System.nanoTime()
        trace.span("streaming.batch") {
          w.feed.groupFiles(g).foreach(f => Files.createLink(in.resolve(s"g$i-${f.getFileName}"), f))
          q.processAllAvailable()
          awaitWatermark(q, wm)
        }
        batchMs += secs(t0) * 1000.0
      }
    } catch {
      case e: Exception =>
        ok = false
        errors += s"stream pass $n: ${e.getClass.getName}: ${e.getMessage}"
    } finally q.stop()
    val rows =
      if (ok) spark.table(qName).as[CepRaw].collect().toVector
        .map(r => Oracle.dslRow(r.kind, r.user_id, r.alarm_us, r.topup_us))
      else Vector.empty
    val r = StreamRun(batchMs.toSeq, q.recentProgress.toSeq, rows, ok)
    if (trace.isEnabled) tracedStreams += r
    r
  }

  private def awaitWatermark(q: StreamingQuery, wmMs: Long): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    def reached = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .exists(s => java.time.Instant.parse(s).toEpochMilli >= wmMs)
    while (!reached) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) sys.error(s"watermark $wmMs not reached")
      Thread.sleep(2)
    }
  }

  // ------------------------------------------------------------------ trace

  /** Run every layer the workload's passes do not reach once over the same
    * input, then read the per-layer numbers off the spans. Returns the raw
    * layer record and the stream's rows for the `stream_vs_nfa` check. */
  private def sweep(): (Map[String, Any], Map[String, Vector[String]]) = {
    val scan = trace.span("sources.scan")(timed(noop(graft.sources.Tables.events(spark, table))))._2
    layers("sources.scan_s") = scan
    layers("sources.rows") = graft.sources.Tables.events(spark, table).count()

    trace.pass = -1
    val stream = streamPass(-1, stageGroups(work.resolve("sweep")))
    trace.pass = 0
    batchLayers()
    streamLayers()
    layers("sql.parse_ms") =
      median((0 until 21).map(_ => timed(MatchRecognize.parseSpec(Main.LowBalanceSpec))._2 * 1000))
    val ev = graft.sources.Tables.events(spark, table).select($"event_id", $"ts", $"user_id", $"event_type")
    layers("sql.build_ms") =
      median((0 until 5).map(_ => timed(MatchRecognize(ev, Main.LowBalanceSpec))._2 * 1000))
    (Map("stream_batch_ms" -> tracedStreams.flatMap(_.batchMs).toSeq) ++ suite(),
      if (stream.ok) Map("stream_vs_nfa" -> stream.rows) else Map.empty)
  }

  private def batchLayers(): Unit = {
    def of(name: String) = { val s = trace.named(name); (s, s.map(trace.workFor)) }
    val (dsl, dslW) = of("operators.dsl")
    layers("operators.dsl_job_s") = median(dsl.map(_.seconds))
    layers("operators.shuffle_write_bytes") = median(dslW.map(_.shuffleWriteBytes.toDouble))
    layers("operators.shuffle_read_bytes") = median(dslW.map(_.shuffleReadBytes.toDouble))
    layers("operators.spill_bytes") = median(dslW.map(_.spillBytes.toDouble))
    layers("operators.tasks") = median(dslW.map(_.tasks.toDouble))
    layers("operators.task_skew") = median(dslW.map(_.taskSkew))
    val (mr, mrW) = of("sql.mr")
    layers("sql.mr_job_s") = median(mr.map(_.seconds))
    layers("sql.shuffle_bytes") = median(mrW.map(_.shuffleWriteBytes.toDouble))
    layers("sql.task_skew") = median(mrW.map(_.taskSkew))
  }

  private def streamLayers(): Unit = {
    val ps = tracedStreams.flatMap(_.progress).filter(_.durationMs.containsKey("addBatch")).toSeq
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val (data, timer) = ps.partition(_.numInputRows > 0)
    val state = ps.flatMap(_.stateOperators.headOption)
    layers("streaming.triggers") = ps.size.toDouble / math.max(1, tracedStreams.size)
    layers("streaming.add_batch_ms_p50") = median(data.map(d(_, "addBatch")))
    layers("streaming.planning_ms_p50") = median(ps.map(d(_, "queryPlanning")))
    layers("streaming.commit_ms_p50") = median(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets")))
    layers("streaming.timer_trigger_ms_p50") = median(timer.map(d(_, "triggerExecution")))
    layers("streaming.state_commit_ms") = median(state.map(_.commitTimeMs.toDouble))
    layers("streaming.state_rows_updated") = state.map(_.numRowsUpdated).sum / math.max(1, tracedStreams.size)
    layers("streaming.state_memory_bytes") = (0L +: state.map(_.memoryUsedBytes)).max
    layers("streaming.state_rows_total") = (0L +: state.map(_.numRowsTotal)).max
  }

  private def moduleOf(q: String): String =
    if (graft.relational.Queries.all.contains(q)) "relational"
    else if (graft.pipeline.PipelineQueries.all.contains(q)) "pipeline"
    else if (MrQueries.queries.contains(q)) "sql"
    else "operators"

  /** The declared-query floor: every events-only entry of
    * `SparkEntry.queries` once, over a small feed of the workload's shape
    * (sf0.01 size), each split into build and execution. */
  private def suite(): Map[String, Any] = {
    val feed = w.feed.copy(events = 10000L, keys = 150L)
    val dir = work.resolve("suite")
    feed.stage(spark, seed, dir, 0)
    // the one warm-up build: a failure is named in `errors` and counted
    val firstTouch = op("warm build events_first_touch")(graft.sources.Tables.events(spark, dir.toString).count())
    firstTouch.foreach { case (_, s) => layers("harness.warm_build_s.events_first_touch") = s }
    layers("harness.warm_failures") = if (firstTouch.isEmpty) 1 else 0
    val queries = SparkEntry.queries
    val times = Main.SuiteQueries.flatMap { q =>
      val mod = moduleOf(q)
      op(s"suite $q") {
        val f = queries.getOrElse(q, sys.error(s"$q is not in SparkEntry.queries"))
        trace.span(s"suite.$mod") {
          val (df, build) = timed(f(spark, dir.toString))
          val analysis = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
          val (_, exec) = timed(noop(df))
          (build, analysis, exec)
        }
      }.map { case ((b, a, e), total) =>
        graft.Caches.clear()
        (q, mod, b, e, total, a)
      }
    }
    val spans = trace.recorded.filter(_.name.startsWith("suite."))
    for (mod <- Seq("relational", "pipeline", "operators", "sql")) {
      val mine = times.filter(_._2 == mod)
      val sw = spans.filter(_.name == s"suite.$mod").map(trace.workFor)
      layers(s"$mod.suite_build_s") = mine.map(_._3).sum
      layers(s"$mod.suite_exec_s") = mine.map(_._4).sum
      layers(s"$mod.suite_analysis_s") = (mine.map(_._6).sum + sw.map(_.analysisMs).sum) / 1000.0
      layers(s"$mod.suite_optimization_s") = sw.map(_.optimizationMs).sum / 1000.0
      layers(s"$mod.suite_planning_s") = sw.map(_.planningMs).sum / 1000.0
      layers(s"$mod.suite_codegen_s") = sw.map(_.codegenNs).sum / 1e9
      layers(s"$mod.suite_jobs") = sw.map(_.jobs).sum
      layers(s"$mod.suite_shuffle_bytes") = sw.map(_.shuffleWriteBytes).sum
    }
    // the two low-balance entries have an oracle
    val ref = Oracle.run(Oracle.keyRuns(spark, dir.toString))
    check("suite_cep_low_balance",
      queries("q_cep_low_balance")(spark, dir.toString).collect().toVector.map(r =>
        s"${r.getLong(0)},${r.getTimestamp(1).getTime / 1000L},${r.getTimestamp(2).getTime / 1000L}"),
      ref.dsl.filter(_.startsWith("match,")).map(_.stripPrefix("match,")))
    check("suite_mr_low_balance",
      Oracle.fromMr(queries("q_mr_low_balance")(spark, dir.toString).collect()), ref.mr)
    Map("suite_query_s" -> times.map(_._5),
      "warm_failures" -> (if (firstTouch.isEmpty) Seq("events_first_touch") else Nil),
      "suite_modules" -> times.map(t => t._1 -> t._2).toMap)
  }

  // ------------------------------------------------------------------ checks

  private def writeRows(name: String, rows: Seq[String]): String = {
    val p = work.resolve("check").resolve(name)
    Files.createDirectories(p.getParent)
    Files.write(p, rows.sorted.asJava, StandardCharsets.UTF_8)
    p.toString
  }

  /** Record a comparison of `got` with `want` (multisets of canonical rows)
    * for `run.py` to make; an error producing `got` counts as failed. */
  private def check(name: String, got: => Seq[String], want: Seq[String]): Unit =
    op(s"check $name")(got).foreach { case (g, _) =>
      checks += Map("name" -> name, "got" -> writeRows(s"$name.got", g),
        "want" -> writeRows(s"$name.want", want))
    }

  private def verify(got: Map[String, Vector[String]], traced: Boolean): Unit = {
    val runs = Oracle.keyRuns(spark, table)
    val ref = Oracle.run(runs)
    val want = Map("stream_vs_nfa" -> ref.dsl, "dsl_vs_nfa" -> ref.dsl, "mr_vs_strict_nfa" -> ref.mr)
    got.foreach { case (name, rows) => check(name, rows, want(name)) }
    if (traced) {
      val ts = (e: EventRow) => e.ts_us / 1000L
      val nfa = trace.span("pattern.nfa")(timed(runs.foreach { case (_, evs) =>
        NFA.run(evs.iterator, ts, EventPatterns.pattern)
      }))._2
      val hot = runs.head._2
      layers("pattern.nfa_s") = nfa
      layers("pattern.nfa_events_per_s") = w.feed.events / nfa
      layers("pattern.hot_key_nfa_s") = timed(NFA.run(hot.iterator, ts, EventPatterns.pattern))._2
      layers("pattern.hot_key_events") = hot.length.toLong
      layers("pattern.live_partials_max") = Oracle.livePartialsMax(hot)
      layers("pattern.matches") = ref.matches
      layers("pattern.timeouts") = ref.timeouts
    }
  }

  /** The reference fixture through `BillingAlerts.detect`; `run.py` compares
    * the files byte for byte with the expected CSVs. */
  private def fixture(): Unit =
    op("fixture") {
      val out = BillingAlerts.detect(
        BillingAlerts.readCsv(spark, fixtures.resolve("input-data.csv").toString)).collect()
      def lines(kind: String) = out.filter(_.kind == kind)
        .map(o => s"${o.id},${o.alarmTriggerDatetime},${o.topupDatetime}\n").sorted.mkString
      val dir = Files.createDirectories(work.resolve("fixture"))
      Files.write(dir.resolve("expected-output.csv"), lines("match").getBytes(StandardCharsets.UTF_8))
      Files.write(dir.resolve("expected-side-output.csv"), lines("timeout").getBytes(StandardCharsets.UTF_8))
    }
}
