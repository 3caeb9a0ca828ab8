package graft

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
