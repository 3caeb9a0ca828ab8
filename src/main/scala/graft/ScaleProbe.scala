package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-21 scale-escalation instrument (verdict item 7): the sf0.1
  * fixture cannot resolve scale-shape claims, so this main builds a
  * measurement-only 10× corpus under /tmp/sfbig (replicated partitions
  * with offset keys; document text perturbed per replica so the shingle
  * pipeline sees 10× genuine content instead of a quadratic
  * cross-replica near-dup explosion) and times q_pagerank and
  * q_dup_rate_by_source on it (construction + noop write, through
  * [[Harness.timed]]). Nothing here is a declared query or feeds the
  * oracle — it exists to put a number on shape claims the fixture
  * renders noise-level; an old-vs-new A/B runs this main in two
  * checkouts. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_BIG_DIR", "/tmp/sfbig")
    val spark = Harness.session()
    import spark.implicits._

    val reps = 10
    def replicate(table: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val out = s"$big/$table.parquet"
      if (!new java.io.File(out).exists()) {
        val base = spark.read.parquet(s"$sf01/$table.parquet")
        (0 until reps).map(i => f(base, i)).reduce(_ union _)
          .write.mode("overwrite").parquet(out)
        println(s"[scale] built $out")
      }
    }
    // keys offset per replica so the graph/doc spaces scale instead of
    // saturating; suppliers/orders land in disjoint replica islands
    replicate("supplier", (d, i) =>
      d.withColumn("s_suppkey", $"s_suppkey" + lit(i * 1000000L)))
    replicate("lineitem", (d, i) =>
      d.withColumn("l_orderkey", $"l_orderkey" + lit(i * 100000000L))
        .withColumn("l_suppkey", $"l_suppkey" + lit(i * 1000000L))
        .withColumn("l_partkey", $"l_partkey" + lit(i * 10000000L)))
    replicate("part", (d, i) =>
      d.withColumn("p_partkey", $"p_partkey" + lit(i * 10000000L)))
    replicate("documents", (d, i) =>
      d.withColumn("doc_id", $"doc_id" + lit(i * 1000000L))
        // suffix every token with the replica tag: all shingles differ
        // across replicas, so near-dup structure replicates instead of
        // exploding quadratically across copies
        .withColumn("text", array_join(
          transform(split($"text", " "), t => concat(t, lit(s"r$i"))), " ")))

    def t(label: String)(df: => DataFrame): Unit = {
      val run = Harness.timed(spark)(
        df.write.format("noop").mode("overwrite").save())
      println(f"[scale] $label%-36s ${run.seconds}%8.2f s" +
        run.failure.fold("")(e => s"  FAILED: ${e.getMessage}"))
    }

    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROUNDS", "2").toInt
    for (r <- 1 to rounds) {
      println(s"[scale] --- round $r at 10x")
      t("pagerank")(graft.ops.Analytics.qPagerank(spark, big))
      t("dup_rate_by_source")(
        graft.ops.Similarity.qDupRateBySource(spark, big))
    }
    spark.stop()
  }
}
