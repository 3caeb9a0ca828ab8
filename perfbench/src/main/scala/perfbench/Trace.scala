package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One benchmark span: a call into a layer, or a Spark job attached under
  * the benchmark span it started in. Times are epoch microseconds. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long)

/** A Spark job's interval (epoch microseconds) and operation id. */
final case class Job(id: Int, op: Int, start: Long, var end: Long)

/** Per-layer counters for one operation (or summed over a run). */
final class Layers {
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) += v
  def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
  def ++=(o: Layers): Unit = o.c.foreach { case (k, v) =>
    if (k.endsWith("peak_mem_mb") || k.endsWith("cache_peak_mb")) max(k, v)
    else add(k, v)
  }
}

/** The traced run's instrument. Spans are kept in memory and written at
  * the end; Spark's public listeners supply jobs, stages, tasks and the
  * Catalyst phases of every QueryExecution that ran, and CodegenMetrics
  * supplies the exact Janino compile count. When `enabled` is false no
  * listener is registered and `span` only runs its body, so the untraced
  * run pays nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = baseUs + System.nanoTime() / 1000
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = 0

  /** A new operation id; the harness sets it as the job group, so jobs
    * carry it. */
  def beginOp(): Int = { opId += 1; opId }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        opId, nowUs, -1L)
      spans += s
      stack = s :: stack
      try body finally { s.end = nowUs; stack = stack.tail }
    }

  // ---- listener state (written on the listener-bus thread)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val byOp = mutable.HashMap.empty[Int, Layers]
  private val qes = mutable.ArrayBuffer.empty[(Long, Double, Double, Double, Int)]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cacheBytes, cachePeak = 0L
  @volatile private var fenceSeen = false

  private def layers(op: Int) = byOp.getOrElseUpdate(op, new Layers)
  private val Fence = "perfbench-fence"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val op = if (group.startsWith("op-")) group.drop(3).toInt else 0
      jobs(e.jobId) = Job(e.jobId, op, e.time * 1000, -1L)
      e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
      layers(op).add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        layers(stageOp.getOrElse(e.stageInfo.stageId, 0)).add("sched.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val l = layers(stageOp.getOrElse(e.stageId, 0))
        val i = e.taskInfo
        l.add("sched.tasks", 1)
        l.add("exec.run_s", m.executorRunTime / 1e3)
        l.add("exec.cpu_s", m.executorCpuTime / 1e9)
        l.add("exec.gc_s", m.jvmGCTime / 1e3)
        l.max("exec.peak_mem_mb", m.peakExecutionMemory / 1048576.0)
        l.add("sched.delay_s", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime) / 1e3)
        l.add("scan.bytes", m.inputMetrics.bytesRead)
        l.add("scan.records", m.inputMetrics.recordsRead)
        l.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        l.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        l.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        l.add("spill.disk_bytes", m.diskBytesSpilled)
        l.add("spill.mem_bytes", m.memoryBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isInstanceOf[RDDBlockId]) {
          val now = b.memSize + b.diskSize
          cacheBytes += now - blocks.getOrElse(b.blockId.name, 0L)
          blocks(b.blockId.name) = now
          cachePeak = math.max(cachePeak, cacheBytes)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = ()
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      synchronized {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        val exchanges = collect(qe.executedPlan) { case s: ShuffleExchangeLike => s }.size
        val at = ph.get("analysis").map(_.startTimeMs * 1000)
          .getOrElse(System.currentTimeMillis() * 1000)
        if (qe.logical.toString.contains(Fence)) fenceSeen = true
        else qes += ((at, ms("analysis"), ms("optimization"), ms("planning"), exchanges))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A built DataFrame is analyzed eagerly, in its own QueryExecution,
    * which no action reports to the listener: add its analysis phase. */
  def noteAnalysis(op: Int, df: DataFrame): Unit =
    if (enabled) df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => synchronized(layers(op).add("catalyst.analysis_ms", p.durationMs)))

  /** Wait until the listener bus has delivered every event posted before
    * this call: run one tagged query and wait for its QueryExecution, the
    * last event of its own, to arrive. False when it did not arrive within
    * 30 s, so events may be missing. */
  def drain(): Boolean = !enabled || {
    fenceSeen = false
    spark.sparkContext.setJobGroup("fence", "fence")
    spark.range(1).selectExpr(s"'$Fence' AS f").write.format("noop")
      .mode("overwrite").save()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(5)
    fenceSeen
  }

  private def covered(op: Int, from: Long, to: Long): Long = {
    val iv = jobs.values.filter(j => j.op == op && j.end > 0)
      .map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total, lastEnd = 0L
    iv.foreach { case (a, b) =>
      val s = math.max(a, lastEnd)
      if (b > s) { total += b - s; lastEnd = b }
    }
    total
  }

  /** Per-operation layer counters, after [[drain]]. Attaches each job as
    * a child span of the innermost benchmark span it started in. */
  def finish(opSpans: Map[Int, (Long, Long)]): Map[Int, Layers] =
    synchronized {
      val benchSpans = spans.toVector
      jobs.values.foreach { j =>
        val host = benchSpans.filter(s => s.start <= j.start && j.start <= s.end)
          .sortBy(s => s.end - s.start).headOption
        spans += Span(spans.size, s"spark.job.${j.id}", host.map(_.id).getOrElse(-1),
          j.op, j.start, j.end)
      }
      qes.foreach { case (at, a, o, p, x) =>
        val op = opSpans.collectFirst { case (id, (s, e)) if s <= at && at <= e => id }
          .getOrElse(0)
        val l = layers(op)
        l.add("catalyst.executions", 1)
        l.add("catalyst.analysis_ms", a)
        l.add("catalyst.optimization_ms", o)
        l.add("catalyst.planning_ms", p)
        l.add("catalyst.exchanges", x)
      }
      opSpans.foreach { case (op, (s, e)) =>
        val l = layers(op)
        l.add("driver.self_s", (e - s - covered(op, s, e)) / 1e6)
      }
      layers(0).max("ml.cache_peak_mb", cachePeak / 1048576.0)
      byOp.toMap
    }

  def remove(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}
