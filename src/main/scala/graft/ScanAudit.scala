package graft

/** Whole-surface scan-pruning audit: for EVERY declared query, walk the
  * physical plan's parquet scans and compare each scan's ReadSchema
  * width against the table's full width — a scan reading all columns of
  * a wide table under a narrow projection means column pruning broke,
  * which at 100 TB is the difference between reading 2 columns and 16.
  *
  * Prints one line per (query, table) scan with read/full widths and a
  * FULLWIDTH flag when a >4-column table is read whole, plus a summary.
  * Audit instrument, not a gate: some queries legitimately consume every
  * column (q_column_profile profiles them all) — the output is for the
  * builder to adjudicate, and the adjudication lives in SURVEY §8.
  *
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.ScanAudit [query...]`
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session()
    val fullWidth: Map[String, Int] = Harness.TableNames.map { t =>
      t -> spark.read.parquet(s"$sfDir/$t.parquet").schema.size
    }.toMap
    val readRe = ("""ReadSchema: struct<([^\n]*)""").r
    val targets =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    var flagged = 0
    targets.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString
        // plan text interleaves "Location" and "ReadSchema" per scan in
        // order; zip them pairwise — but ONLY when the counts agree: a
        // truncated plan string or an interleaved non-parquet scan would
        // silently misalign the pairing and attribute widths to the
        // wrong table, so unequal counts are a reported parse error for
        // this query, not a zip
        val locs = RuntimeScans.scannedTables(plan)
        val reads = readRe.findAllMatchIn(plan).map(_.group(1)).toList
        if (locs.size != reads.size) {
          println(s"SCAN $name PARSE-ERROR Location/ReadSchema count " +
            s"mismatch (${locs.size} vs ${reads.size}) — skipped, not zipped")
        } else
        locs.zip(reads).foreach { case (t, schema) =>
          val nRead =
            if (schema.trim.isEmpty) 0
            // top-level fields = commas at angle-bracket depth 0, +1
            else {
              var depth = 0; var n = 1
              schema.foreach {
                case '<' => depth += 1
                case '>' => depth -= 1
                case ',' if depth == 0 => n += 1
                case _ =>
              }
              n
            }
          val full = fullWidth.getOrElse(t, -1)
          val flag = if (full > 4 && nRead >= full) { flagged += 1; " FULLWIDTH" } else ""
          println(f"SCAN $name%-28s $t%-12s $nRead%2d/$full$flag")
        }
        if (locs.isEmpty) println(f"SCAN $name%-28s (no parquet scan in plan)")
      } catch { case e: Throwable =>
        println(s"SCAN $name ERROR ${e.getMessage.take(80)}")
      }
    }
    println(s"AUDIT done: $flagged FULLWIDTH scans flagged over ${targets.size} queries")
    spark.stop()
  }
}
