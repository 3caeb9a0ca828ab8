package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-based runtime parquet-scan counter — the instrument behind
  * RuntimeScanSpec's CI pins and the [[RuntimeScanAudit]] main. The
  * static plan-text scan count (PlanShapeSpec guard 3 / graft.ScanAudit)
  * cannot see scans feeding an eager localCheckpoint: the checkpoint
  * replaces them with a LogicalRDD at DataFrame-CONSTRUCTION time. A
  * QueryExecutionListener observes EVERY execution the session fires —
  * checkpoint builds run through `Dataset.withAction` exactly like the
  * main collect — so per-table totals across all captured executions are
  * the query's true runtime scan counts.
  *
  * Instrument subtleties (mirrors ReuseAudit's lessons):
  *  - each captured plan is cut at "== Initial Plan ==" so AQE's
  *    pre-execution tree is never double-counted;
  *  - the execution-listener bus is async, so the capture waits until
  *    the count is stable for 3 consecutive 200 ms checks (cap 20 s);
  *  - LAZY checkpoints materialize inside the main job with no
  *    QueryExecution of their own — invisible here by construction, but
  *    RDD block semantics already pin them at one materialization.
  */
object RuntimeScans {

  /** Per-table parquet-scan totals across every QueryExecution fired
    * while `build` constructs a DataFrame and it is collected.
    *
    * SIDE EFFECT (session-global, deliberate): the finally block runs
    * [[Harness.cleanup]] — the between-measurement hygiene, required for
    * repeatable counts (a relation left cached by one measured query
    * would hide the next query's scans behind InMemoryTableScan). Do NOT
    * call this on a live session whose cached/persisted state you need;
    * it is an instrument for dedicated probe/CI sessions (advisor r19
    * #4 documents this contract). */
  def measure(spark: SparkSession)(build: => DataFrame): Map[String, Int] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.add(finalPlan(qe.executedPlan.toString))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try collectAndDrain(build)(plans.size)
    finally {
      spark.listenerManager.unregister(listener)
      Harness.cleanup(spark)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toList.flatMap(scannedTables)
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Spark JOBS fired while `build` constructs a DataFrame and it is
    * collected — the deterministic pin for the LAZY-checkpoint queries
    * (verdict-19 #2): a lazy localCheckpoint materializes inside the
    * main job with no QueryExecution of its own, invisible to
    * [[measure]] and to plan text, but every materialization IS a job —
    * so the total job count of construct+collect is a deterministic
    * function of the query's structure (dispatch counts, checkpoint
    * builds, AQE final jobs) and a silent re-materialization shows up
    * as +1 job. Uses a SparkListenerInterface on the shared listener
    * bus, drained like [[measure]]'s. Same session-global cache/persist
    * cleanup contract as [[measure]]. */
  def countJobs(spark: SparkSession)(build: => DataFrame): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try collectAndDrain(build)(jobs.get())
    finally {
      spark.sparkContext.removeSparkListener(listener)
      Harness.cleanup(spark)
    }
    jobs.get()
  }

  /** Collect `build`, then wait out the async listener bus: until
    * `observed` is stable for 3 consecutive 200 ms checks (cap 20 s). */
  private def collectAndDrain(build: => DataFrame)(observed: => Int): Unit = {
    build.collect()
    var last = -1
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 20000) {
      Thread.sleep(200); waited += 200
      val n = observed
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** The final section of an executed plan's text: AdaptiveSparkPlan
    * appends the pre-execution tree under "== Initial Plan ==", which
    * would count every scan twice. */
  def finalPlan(plan: String): String = plan.split("== Initial Plan ==").head

  /** The table of every parquet scan in a plan's text, one entry per
    * scan, in plan order (tables are read from `<dir>/<table>.parquet`). */
  def scannedTables(plan: String): List[String] =
    ScanLocation.findAllMatchIn(plan).map(_.group(1)).toList

  private val ScanLocation = """Location: [^\n]*/(\w+)\.parquet""".r

  // NEGATIVE RESULT, recorded so the next round doesn't re-try it: a
  // task-inputMetrics bytesRead listener was built to close the LAZY-
  // checkpoint blind spot (a lazy localCheckpoint materializes inside
  // the main job with no QueryExecution, invisible to plan text), but
  // Spark's TaskMetrics.inputMetrics conflates block-manager CACHE
  // reads with Hadoop-FS reads — measured here: one full scan of a
  // 65 KB parquet reported 2977 bytes (the vectorized reader
  // under-reports FS bytes) while q_boilerplate_frac reported 4.9 MB
  // (its lazy-checkpointed shingle relation read back from blocks,
  // counted as "input"). Neither direction of the signal tracks
  // parquet passes, so no ceiling expressed in it can pin them. The
  // lazy blind spot stays documented-accepted: RDD block semantics
  // already guarantee one materialization per lazy checkpoint.
}

/** Whole-surface runtime scan audit: [[RuntimeScans.measure]] over every
  * declared query (or the ones named as args) — the offline companion of
  * RuntimeScanSpec's 18 CI pins, for re-adjudicating the exceptions maps
  * after a planner change or a rewrite. Prints one line per query with
  * its per-table runtime totals and a `MAX` summary.
  *
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.RuntimeScanAudit [query...]`
  */
object RuntimeScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session()
    val targets =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // jobs mode (SPARK_GRAFT_JOBS=1): print [[RuntimeScans.countJobs]]
    // per query instead of scan counts — the adjudication tool behind
    // RuntimeScanSpec's job-count pins. Run twice when adjudicating: a
    // count must repeat to be pinnable.
    if (sys.env.get("SPARK_GRAFT_JOBS").contains("1")) {
      targets.foreach { name =>
        try {
          val n1 = RuntimeScans.countJobs(spark)(
            SparkEntry.queries(name)(spark, sfDir))
          val n2 = RuntimeScans.countJobs(spark)(
            SparkEntry.queries(name)(spark, sfDir))
          println(f"RTJOBS $name%-28s run1=$n1%3d run2=$n2%3d" +
            (if (n1 == n2) "" else "  UNSTABLE"))
        } catch { case e: Throwable =>
          println(s"RTJOBS $name ERROR ${String.valueOf(e.getMessage).take(80)}")
        }
      }
      spark.stop()
      return
    }
    var worst = 0
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    targets.foreach { name =>
      try {
        val counts = RuntimeScans.measure(spark)(
          SparkEntry.queries(name)(spark, sfDir))
        val m = if (counts.isEmpty) 0 else counts.values.max
        worst = math.max(worst, m)
        val body = counts.toSeq.sortBy(-_._2)
          .map { case (t, n) => s"$t=$n" }.mkString(" ")
        println(f"RTSCAN $name%-28s max=$m%2d $body")
        rows += name -> counts.toSeq.sortBy(_._1)
          .map { case (t, n) => s""""$t":$n""" }.mkString("{", ",", "}")
      } catch { case e: Throwable =>
        println(s"RTSCAN $name ERROR ${String.valueOf(e.getMessage).take(80)}")
        rows += name -> s""""ERROR""""
      }
    }
    println(s"RTSCAN done: worst per-table runtime scan count = $worst " +
      s"over ${targets.size} queries")
    // Commit-able artifact (verdict-19 #4): the full per-query per-table
    // runtime scan table as one JSON object, so the next scan-count
    // regression is a one-line `diff` against the committed round
    // artifact instead of a prose claim. Path via SPARK_GRAFT_SCANS_OUT
    // (default RUNTIME_SCANS.json in the working directory).
    val out = sys.env.getOrElse("SPARK_GRAFT_SCANS_OUT", "RUNTIME_SCANS.json")
    val json = rows.sortBy(_._1)
      .map { case (n, b) => s"""  "$n": $b""" }
      .mkString(s"""{\n  "sf": "$sfDir",\n  "worst": $worst,\n""", ",\n", "\n}")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[rtscan] WARN: could not write $out: $e") }
    spark.stop()
  }
}
