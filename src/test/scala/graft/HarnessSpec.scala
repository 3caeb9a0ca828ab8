package graft

/** [[Harness.timed]] is the one timed run behind Bench, Verify and the
  * probes: a run that throws must come back as a failure, never as a
  * timing, and its blocks must be released either way. */
class HarnessSpec extends GraftSuite {

  test("a throwing run is reported as failed and still cleaned up") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var pinnedDuring = 0
    val run = Harness.timed(spark) {
      spark.range(100).localCheckpoint().count()
      pinnedDuring = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      throw new IllegalStateException("injected failure")
    }
    assert(pinnedDuring > 0, "the run must have pinned a checkpoint")
    assert(run.failure.map(_.getMessage).contains("injected failure"))
    assert(run.seconds >= 0.0)
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(after == before, s"the run left persistent RDDs: ${after -- before}")
    assert(intercept[IllegalStateException](run.orThrow)
      .getMessage == "injected failure")
  }

  test("a timed run keeps what was persisted before it") {
    val input = spark.range(50).localCheckpoint()
    input.count()
    val run = Harness.timed(spark)(input.selectExpr("sum(id)").head())
    assert(run.failure.isEmpty)
    // the checkpointed input is still readable: its blocks survived
    assert(input.selectExpr("sum(id)").head().getLong(0) == 1225L)
    Harness.cleanup(spark)
  }
}
