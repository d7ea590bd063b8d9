package graft

/** Time a single declared query in isolation (bench-noise protocol: one
  * JVM, one query, optional repeats) — `runMain graft.QueryTime <name>
  * [repeats]`. Same [[Harness]] session and timed run as [[Bench]].
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val repeats = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val h = Harness(sfDir)
    // comma-separated names: earlier queries warm the session (footer
    // reads, codegen) the way Bench's preceding queries do — the LAST name
    // is the one being measured under bench-like conditions
    name.split(',').foreach { qn =>
      val times = (1 to repeats).map { i =>
        val t = h.run(qn)(_.count())
        val n = t.result.toTry.get
        println(f"[qtime] $qn run $i: ${t.sec}%.3f s ($n rows)")
        t.sec
      }
      println(f"[qtime] $qn median: ${times.sorted.apply(repeats / 2)}%.3f s")
    }
    h.stop()
  }
}
