package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods.{compact, render}

/** The benchmark's JVM side: drives the engine through its public entry
  * points with one closed-loop client (the next operation starts when the
  * previous one returns) and writes `result.json`, `spans.json` and the
  * correctness dumps under `--out`. `perfbench/run.py` generates the
  * inputs, launches this, checks the dumps and prints the metrics.
  *
  * Arguments (all `--key value`): workload, data, out, cpus, setup-only
  * (1: exit once set up), trace (0|1), ops (comma-separated, already in
  * the seeded order), op-timeout-s, fault (an operation name that throws,
  * for the harness's own tests) and the pipeline sizes documented in
  * [[Pipeline]]. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val out = a("out")
    Files.createDirectories(Paths.get(out))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    setUp(spark, a("workload"))
    val readyEpochMs = System.currentTimeMillis()
    if (a.get("setup-only").contains("1")) {
      writeJson(Paths.get(out, "result.json"), Map("ready_epoch_ms" -> readyEpochMs))
      spark.stop()
      return
    }
    val h = new Harness(spark, a, new Tracer(spark, a("trace") == "1"))
    h.readyEpochMs = readyEpochMs
    val record = mutable.LinkedHashMap[String, Any](
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "cpus" -> cpus)
    try {
      a("workload") match {
        case "pipeline" => new Pipeline(h, a).run(record)
        case _ => new Queries(h, a).run(record)
      }
    } finally {
      record ++= h.summary()
      record("peak_rss_mb") = peakRssMb()
      writeJson(Paths.get(out, "result.json"), record)
      if (h.tracer.enabled) writeJson(Paths.get(out, "spans.json"),
        Map("spans" -> h.tracer.spans.map(s =>
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "op" -> s.op, "start_us" -> s.start, "end_us" -> s.end)).toSeq))
      spark.stop()
    }
  }

  /** The set-up that `setup_s` times, after the session is built: Bench's
    * session warm-up (a tiny aggregate; its per-table counts are left out,
    * since every operation's first run reads its tables untimed) and, for
    * the query suite, the registry's initialisation. */
  def setUp(spark: SparkSession, workload: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").count()
    if (workload != "pipeline") graft.SparkEntry.queries.size
  }

  def writeJson(p: Path, v: Any): Unit =
    Files.writeString(p, compact(render(Extraction.decompose(v)(DefaultFormats))))

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** One timed operation's outcome. */
final case class OpResult(id: Int, name: String, kind: String, wallS: Double,
    buildS: Double, ok: Boolean, error: String)

/** Shared plumbing: the closed-loop operation runner (timeout, job group,
  * spans, compile counts, Bench's block cleanup) and the run summary. */
final class Harness(val spark: SparkSession, a: Map[String, String],
    val tracer: Tracer) {
  val results = mutable.ArrayBuffer.empty[OpResult]
  private val opSpans = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  private val opCompiles = mutable.LinkedHashMap.empty[Int, Long]
  private val fault = a.getOrElse("fault", "")
  private val timeoutS = a.getOrElse("op-timeout-s", "120").toLong
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  var readyEpochMs = 0L

  /** Run one timed operation. `body` receives a `build` wrapper for the
    * call that constructs the work and returns what the caller needs; an
    * exception or a timeout marks the operation failed, never timed. */
  def op[T](name: String, kind: String)(body: (String => (=> Any) => Any) => T): Option[T] = {
    val id = tracer.beginOp()
    val group = s"op-$id"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val timer = watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(group)
    }, timeoutS, TimeUnit.SECONDS)
    var buildS = 0.0
    val c0 = tracer.compiles
    val s0 = tracer.nowUs
    val t0 = System.nanoTime()
    val build: String => (=> Any) => Any = layer => work => {
      val b0 = System.nanoTime()
      val built = try tracer.span(layer)(work)
        finally buildS += (System.nanoTime() - b0) / 1e9
      built match {
        case df: DataFrame => tracer.noteAnalysis(id, df)
        case _ =>
      }
      built
    }
    val res = try {
      if (name == fault) throw new IllegalStateException(s"injected fault in $name")
      Right(tracer.span(s"op:$name")(body(build)))
    } catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    opSpans(id) = (s0, tracer.nowUs)
    opCompiles(id) = tracer.compiles - c0
    timer.cancel(false)
    sc.clearJobGroup()
    val timedOut = wall >= timeoutS
    results += OpResult(id, name, kind, wall, buildS, res.isRight && !timedOut,
      res.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
        .getOrElse(if (timedOut) s"timeout after ${timeoutS}s" else "")
        .take(300))
    res.toOption.filter(_ => !timedOut)
  }

  /** Bench's between-query block cleanup: release what the finished
    * operation pinned (checkpoints, caches). */
  def cleanup(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Record a failed correctness check against every run of `name`. */
  def fail(name: String, why: String): Unit =
    results.indices.filter(i => results(i).name == name && results(i).ok)
      .foreach(i => results(i) = results(i).copy(ok = false, error = why.take(300)))

  def summary(): mutable.LinkedHashMap[String, Any] = {
    val m = mutable.LinkedHashMap[String, Any](
      "ready_epoch_ms" -> readyEpochMs,
      "ops" -> results.map(r => mutable.LinkedHashMap("id" -> r.id, "name" -> r.name,
        "kind" -> r.kind, "wall_s" -> r.wallS, "build_s" -> r.buildS,
        "ok" -> r.ok, "error" -> r.error)).toSeq)
    if (tracer.enabled) {
      m("trace_complete") = tracer.drain()
      val per = tracer.finish(opSpans.toMap)
      // run totals cover the timed operations; probes (measurement-only
      // passes of the traced run) keep their own per-operation entries
      val timed = results.filter(_.kind != "probe").map(_.id).toSet
      val total = new Layers
      timed.foreach(id => per.get(id).foreach(total ++= _))
      per.get(0).foreach(l => total.max("ml.cache_peak_mb", l.c("ml.cache_peak_mb")))
      total.add("codegen.compiles", timed.toSeq.map(opCompiles).sum.toDouble)
      // jobs launched inside the build calls (eager dispatch checkpoints,
      // eager fits): jobs whose span parent chain reaches a build span
      val byId = tracer.spans.map(s => s.id -> s).toMap
      def under(s: Span, names: Set[String]): Boolean =
        s.parent >= 0 && (names(byId(s.parent).name) || under(byId(s.parent), names))
      total.add("ops.build_jobs", tracer.spans.count(s => timed(s.op) &&
        s.name.startsWith("spark.job.") && under(s, Set("ops.build", "ml.fit",
          "ml.serve_compile", "ml.apply"))).toDouble)
      m("layers") = total.c.toMap
      m("layers_by_op") = opSpans.keys.toSeq.flatMap(id => per.get(id).map(l =>
        mutable.LinkedHashMap[String, Any]("op" -> id,
          "compiles" -> opCompiles(id)) ++= l.c))
      tracer.remove()
    }
    m
  }
}

/** `suite-sf0.1`: the named registry queries. Each distinct query first
  * runs once untimed and is dumped for the oracle check (the correctness
  * pass, which also leaves JIT and the codegen cache warm), then the
  * timed sequence `ops` (the seeded passes) runs, each forced with the
  * noop sink. */
final class Queries(h: Harness, a: Map[String, String]) {
  private val dir = a("data")
  private val names = a("ops").split(",").toSeq.filter(_.nonEmpty)

  def run(record: mutable.LinkedHashMap[String, Any]): Unit = {
    val spark = h.spark
    val registry = graft.SparkEntry.queries

    val check = Paths.get(a("out"), "check")
    Files.createDirectories(check)
    val oracle = graft.SparkEntry.oracleSql
    Main.writeJson(check.resolve("oracle_sql.json"),
      names.distinct.flatMap(n => oracle.get(n).map(n -> _)).toMap)
    val checkErrors = names.distinct.flatMap { n =>
      val err = try {
        registry(n)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(check.resolve(n).toString)
        None
      } catch { case e: Throwable => Some(n -> s"check run: ${e.getMessage}") }
      h.cleanup()
      err
    }

    for (n <- names) {
      h.op(n, "query") { build =>
        val df = build("ops.build")(registry(n)(spark, dir)).asInstanceOf[DataFrame]
        h.tracer.span("force")(h.noop(df))
      }
      h.cleanup()
    }
    checkErrors.foreach { case (n, why) => h.fail(n, why) }
  }
}
