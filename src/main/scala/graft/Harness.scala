package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way the driver and measurement tools ([[Bench]], [[Verify]],
  * [[PhaseProfile]], [[QueryTime]], [[ExplainQ]]) build a session, warm
  * the session's one-time artifacts and time a declared query. Each tool's
  * `main` is a thin mode over it, so all of them measure the session users
  * get from [[GraftSession.builder]].
  */
final class Harness(
    val spark: SparkSession,
    val sfDir: String,
    val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries) {
  import Harness._

  /** Run every build in order, timing each. A failed build is reported by
    * name and the builds after it still run: a swallowed failure would
    * silently move the build into the first query that needs it. */
  def warm(artifacts: Seq[(String, Build)] = Artifacts): Warm = {
    val sec = collection.mutable.LinkedHashMap[String, Double]()
    val failures = collection.mutable.LinkedHashMap[String, String]()
    artifacts.foreach { case (name, build) =>
      val t0 = System.nanoTime()
      try build(spark, sfDir) catch {
        case e: Throwable =>
          System.err.println(s"[harness] warm $name failed: ${message(e)}")
          failures(name) = message(e)
      }
      sec(name) = (System.nanoTime() - t0) / 1e9
    }
    cleanup()
    Warm(sec, failures)
  }

  /** Build declared query `name` and apply `action` to it: the timed
    * region. `beforeCleanup` sees the elapsed seconds before the caches the
    * query left behind are dropped; the cleanup itself is bookkeeping, not
    * query work, so it stays outside the timed region. */
  def run[T](name: String, beforeCleanup: Double => Unit = _ => ())(
      action: DataFrame => T): Timed[T] = {
    val fn = queries(name)
    val t0 = System.nanoTime()
    var built = t0
    val result =
      try {
        val df = fn(spark, sfDir)
        built = System.nanoTime()
        Right(action(df))
      } catch {
        case e: Throwable =>
          System.err.println(s"[harness] $name failed: ${message(e)}")
          Left(e)
      }
    val t1 = System.nanoTime()
    beforeCleanup((t1 - t0) / 1e9)
    cleanup()
    Timed((built - t0) / 1e9, (t1 - t0) / 1e9, result)
  }

  /** Caches are per-query working sets (multi-branch reuse inside ONE
    * plan); dropping them between queries keeps a 220-query run from
    * accumulating dead blocks and GC pressure. [[Caches.clearAll]] drops the
    * graft-registered caches and materialized checkpoint blocks,
    * `clearCache` anything else SQL-cached, and the `getPersistentRDDs`
    * sweep unregistered RDD-level blocks (loop-internal localCheckpoints). */
  def cleanup(): Unit = {
    Caches.clearAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def stop(): Unit = spark.stop()
}

object Harness {
  type Build = (SparkSession, String) => Any

  /** Per-build seconds and failure messages, in build order. */
  final case class Warm(sec: collection.Map[String, Double], failures: collection.Map[String, String]) {

    /** Seconds summed per group: a build named `group.item` counts toward
      * `group` (the detail's `<group>_build_sec`); first-touch reads carry
      * no group. */
    def groupSec: collection.Map[String, Double] = {
      val g = collection.mutable.LinkedHashMap[String, Double]()
      for ((name, s) <- sec if name.contains('.')) {
        val k = name.takeWhile(_ != '.')
        g(k) = g.getOrElse(k, 0.0) + s
      }
      g
    }
  }

  /** `buildSec` is the time to build the DataFrame, `sec` the whole timed
    * region (build plus action); `result` holds the action's value or what
    * it threw. */
  final case class Timed[T](buildSec: Double, sec: Double, result: Either[Throwable, T])

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(200)

  /** Untimed one-time session costs, in run order. The first-touch reads
    * (codegen compiler init, parquet footers, the events NTZ conversion)
    * would otherwise land on whichever query sorts first against each
    * table. The grouped builds are the shared index and model artifacts the
    * queries SERVE from (IVF, MinHash, classifier weights, PQ codebook,
    * eval shingles, tokenizers); their time is emitted per group so a
    * round-over-round delta is never read as pure serving. */
  val Artifacts: Seq[(String, Build)] = {
    import graft.pipeline._
    Seq[(String, Build)](
      "first_query" -> ((s, d) => SparkEntry.queries("q_scan_filter_project")(s, d).count()),
      "events" -> ((s, d) => graft.sources.Tables.events(s, d).count()),
      "documents" -> ((s, d) => graft.sources.Tables.table(s, d, "documents").count()),
      "embeddings" -> ((s, d) => graft.sources.Tables.table(s, d, "embeddings").count()),
      // the two saveAsTable writes are layout setup, not q_join_bucketed's work
      "bucketed" -> ((s, d) => graft.relational.Joins.ensureBucketedTables(s, d)),
      "ivf.probe" -> ((s, d) => Similarity.annIvfProbe(s, d).count()),
      "ivf.knn" -> ((s, d) => Similarity.trainIndex(s, d, Similarity.KnnK)),
      "ivf.merged" -> ((s, d) => Similarity.trainMergedIndex(s, d)),
      "mh.index" -> ((s, d) => Dedup.trainIndex(s, d)),
      "mh.merged" -> ((s, d) => Dedup.trainMergedIndex(s, d)),
      "mh.sig" -> ((s, d) => Dedup.trainSigIndex(s, d)),
      "clf.weights" -> ((s, d) => TextAnalysis.trainClassifier(s, d)),
      "pq.codebook" -> ((s, d) => Embeddings.trainPq(s, d)),
      "cur.eval_shingles" -> ((s, d) => Curation.trainEvalShingles(s, d)),
      "tok.tokenizers" -> ((s, d) => Tokenizer.trainTokenizers(s, d)))
  }

  /** [[GraftSession.builder]] sized to `SPARK_GRAFT_CPUS` (default 4), UI
    * off, WARN logging. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietAuditedWindowWarnings()
    spark
  }

  /** A harness over [[session]] reading tables from `sfDir`. */
  def apply(sfDir: String): Harness = new Harness(session(), sfDir)
}
