package graft

/** Measurement tool (guide §1: measure first — optimization round 16).
  *
  * Splits every declared query's wall time into
  *   build  — constructing the DataFrame (plan assembly, any plan-time
  *            collects such as centroid literals),
  *   phases — Catalyst's own tracker (analysis / optimization / planning),
  *   exec   — count() minus the tracked phases (job scheduling + compute).
  *
  * Emits one JSON line per query to target/phase_profile.json so the floor
  * composition (driver planning vs execution) is measurable instead of
  * guessed. Methodology matches [[Bench]] (the same [[Harness]] session,
  * warm-up and timed run, queries name-sorted); this tool is measurement
  * infrastructure only — it is not part of the bench contract and never
  * writes BENCH files.
  */
object PhaseProfile {
  def main(args: Array[String]): Unit = {
    val only: Set[String] =
      if (args.nonEmpty) args(0).split(',').toSet else Set.empty
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val h = Harness(sfDir)
    h.warm()
    val sorted = h.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    val rows = sorted.flatMap { name =>
      System.err.println(s"[phase] $name")
      val t = h.run(name) { df => df.count(); df.queryExecution.tracker }
      t.result.toOption.map { tracker =>
        val phases = tracker.phases
          .map { case (p, t) => p -> (t.endTimeMs - t.startTimeMs) / 1e3 }
        val tCount = t.sec - t.buildSec
        val pj = phases.toSeq.sortBy(_._1)
          .map { case (p, s) => s""""$p":${BenchKit.r3f(s)}""" }
          .mkString(",")
        s"""{"q":"$name","build":${BenchKit.r3f(t.buildSec)},""" +
          s""""count":${BenchKit.r3f(tCount)},""" +
          s""""exec":${BenchKit.r3f(tCount - phases.values.sum)},$pj}"""
      }
    }
    val p = java.nio.file.Paths.get("target/phase_profile.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, rows.mkString("[\n", ",\n", "\n]\n"))
    println(s"[phase] wrote ${sorted.size} entries to $p")
    h.stop()
  }
}
