package graft

/** Bench-condition probe — the builder-side instrument for perf claims.
  *
  * Rounds 6/7 showed ISOLATED warm probes underestimate the driver's cold
  * sequential sweep by up to 19× (block-manager pressure from earlier
  * queries + cold codegen paid inside the timed query). This main
  * reproduces bench conditions cheaply: the same session config and
  * warm-up as [[Bench]], then a representative slice of the whole suite
  * (every Nth query in the same sorted order) BEFORE timing the targets,
  * with the same between-query block cleanup. Perf numbers quoted in docs
  * must come from this (or the full Bench), never from a lone query in a
  * fresh session.
  *
  * Usage: `runMain graft.Probe [--explain] q_ann_pq q_cm_heavy_hitters`
  * (no args = time every query; --explain prints each target's formatted
  * physical plan after timing it). Env: SPARK_GRAFT_SF_DIR (default
  * sf0.1), SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_PREFIX_STRIDE
  * (prefix sampling stride; default 5, 0 disables the prefix). */
object Probe {
  def main(rawArgs: Array[String]): Unit = {
    val explain = rawArgs.contains("--explain")
    val args = rawArgs.filterNot(_ == "--explain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stride = sys.env.getOrElse("SPARK_GRAFT_PREFIX_STRIDE", "5").toInt
    val spark = Harness.session()
    Harness.warm(spark, sfDir)
    val byName = SparkEntry.queries
    val all = byName.keys.toSeq.sorted
    val targets = if (args.nonEmpty) args.toIndexedSeq else all
    def runOne(name: String): Double = {
      val run = Harness.timed(spark)(byName(name)(spark, sfDir).count())
      run.failure.foreach { e =>
        System.err.println(s"[probe] $name failed: ${e.getMessage}")
      }
      run.seconds
    }
    if (stride > 0) {
      val prefix = all.zipWithIndex
        .collect { case (n, i) if i % stride == 0 && !targets.contains(n) => n }
      println(s"[probe] prefix: ${prefix.size} queries (stride $stride)")
      prefix.foreach(runOne)
    }
    var total = 0.0
    targets.foreach { n =>
      if (byName.contains(n)) {
        val dt = runOne(n)
        total += dt
        println(f"[probe] $n%-28s $dt%8.2f s")
        if (explain) byName(n)(spark, sfDir).explain("formatted")
      } else System.err.println(s"[probe] unknown query: $n")
    }
    println(f"[probe] targets total $total%.2f s over ${targets.size} queries")
    spark.stop()
  }
}
