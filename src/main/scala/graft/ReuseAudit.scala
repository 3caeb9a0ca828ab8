package graft

/** Runtime exchange-reuse audit for multi-scan plans: executes each
  * target query and prints, from the FINAL adaptive plan, how many
  * parquet-scan Locations remain vs how many ReusedExchange /
  * ReusedSubquery marks the runtime inserted — the static plan counts
  * every scan reference, but AQE's stage cache collapses canonically
  * identical subtrees at execution, and only the post-execution plan
  * shows which scans were REAL. The r17 lesson (trust AQE reuse until
  * the audit shows real recompute) needs exactly this instrument.
  *
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.ReuseAudit <query...>`
  */
object ReuseAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    val targets = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    targets.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // execute THIS DataFrame's own QueryExecution (count() would build
      // a different one and leave df's adaptive plan un-finalized)
      df.collect()
      val plan = RuntimeScans.finalPlan(df.queryExecution.executedPlan.toString)
      val scans = RuntimeScans.scannedTables(plan)
      val reusedEx = "ReusedExchange".r.findAllIn(plan).size
      val reusedSq = "ReusedSubquery".r.findAllIn(plan).size
      val byTable = scans.groupBy(identity).view.mapValues(_.size).toMap
      // AQE reuse can also surface as the SAME ShuffleQueryStage id
      // referenced from several parents — count duplicate stage ids too
      val stageIds = "ShuffleQueryStage (\\d+)".r
        .findAllMatchIn(plan).map(_.group(1)).toList
      val dupStages = stageIds.groupBy(identity).count(_._2.size > 1)
      println(s"REUSE $name final=${plan.contains("isFinalPlan=true")} " +
        s"scans=${scans.size} $byTable reusedExchange=$reusedEx " +
        s"reusedSubquery=$reusedSq stages=${stageIds.distinct.size} " +
        s"dupStageIds=$dupStages")
      Harness.cleanup(spark)
    }
    spark.stop()
  }
}
