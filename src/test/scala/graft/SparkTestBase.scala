package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Prop, Test => ScTest}

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate session conf): the mains'
  * [[Harness.session]] at a fixed 4 cores, so test partitioning and the
  * pinned job counts do not follow the host. */
object SparkTestBase {
  lazy val spark: SparkSession = Harness.session(4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = SparkTestBase.sf

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Runs `body` with the `graft.force.distributed` kill switch on, so
    * every [[graft.ops.Dist.sizeDispatch]] it constructs takes the
    * distributed arm (the arm is chosen while the DataFrame is built, so
    * `body` must build, not only collect); the previous setting is
    * restored afterwards. */
  def forcedDistributed[T](body: => T): T = {
    val prev = sys.props.get("graft.force.distributed")
    sys.props("graft.force.distributed") = "1"
    try body
    finally prev match {
      case Some(v) => sys.props("graft.force.distributed") = v
      case None => sys.props.remove("graft.force.distributed")
    }
  }

  /** Spark jobs launched while `body` runs. A one-job marker action
    * tagged with a local property follows `body`; listener events arrive
    * in order, so once the marker's start is seen, every job `body`
    * launched has been counted. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("graft.test.marker") != null)
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(markerSeen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start was never observed")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Every message along an exception's cause chain, space-joined: a
    * named error raised inside a task reaches the driver wrapped. */
  def causeChain(e: Throwable): String = Iterator.iterate(e)(_.getCause)
    .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" ")

  /** Array-column accessor (Spark hands back mutable.ArraySeq). */
  def dArr(row: Row, name: String): IndexedSeq[Double] =
    row.getSeq[Double](row.fieldIndex(name)).toIndexedSeq

  /** Run a ScalaCheck property and fail the ScalaTest assertion if it does
    * not pass (no scalatestplus bridge in the offline cache — drive
    * scalacheck's own Test runner directly). */
  def checkProp(prop: Prop, name: String): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"scalacheck property '$name' failed: ${res.status}")
  }
}
