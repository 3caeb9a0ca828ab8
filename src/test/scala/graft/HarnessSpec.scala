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

  /** [[Bench.prior]] on a prior file's text, with what it printed to
    * stderr. */
  private def priorOf(json: String, sf: String, cpus: Int)
      : (Map[String, Double], String) = {
    val err = new java.io.ByteArrayOutputStream
    val times = Console.withErr(err)(Bench.prior(json, sf, cpus))
    (times, err.toString("UTF-8"))
  }

  private val priorJson =
    """{"metric":"total","value":1.5,"queries":{"q_a":0.5,"q_b":1.0},""" +
      """"retry":{"q_b":0.9},"sf":"/data/sf0.1","cpus":4,"failed":[]}"""

  test("Bench uses a prior taken at the same sf and cpus") {
    val (times, err) = priorOf(priorJson, "/data/sf0.1", 4)
    assert(times == Map("q_a" -> 0.5, "q_b" -> 1.0))
    assert(err.isEmpty, err)
  }

  test("Bench refuses a prior taken at another sf, naming both") {
    val (times, err) = priorOf(priorJson, "/data/sf0.01", 4)
    assert(times.isEmpty)
    assert(err.contains("WARN") && err.contains("/data/sf0.1") &&
      err.contains("/data/sf0.01"), err)
  }

  test("Bench refuses a prior taken at another cpu count, naming both") {
    val (times, err) = priorOf(priorJson, "/data/sf0.1", 8)
    assert(times.isEmpty)
    assert(err.contains("WARN") && err.contains("cpus 4") &&
      err.contains("at 8"), err)
  }

  test("Bench uses a prior that does not record cpus") {
    // the shape of BENCH.json files written before `cpus` existed
    val (times, err) =
      priorOf(priorJson.replace(""","cpus":4""", ""), "/data/sf0.1", 32)
    assert(times == Map("q_a" -> 0.5, "q_b" -> 1.0))
    assert(err.isEmpty, err)
  }
}
