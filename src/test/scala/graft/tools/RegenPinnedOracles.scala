package graft.tools

/** Regeneration helper for the PINNED-LITERAL oracles (r12 advice: the
  * documented "regenerate the table" step for z01/q35 was hand-editing —
  * this makes it one command). Prints, in paste-ready oracle-VALUES form:
  *   - the z01 lineage panel's current graph sizes (scale-independent —
  *     verified in r12 — so one dir suffices);
  *   - q35's sketch aggregates per sf dir, keyed by lineitem row count
  *     (the pin table's join key).
  * Run after an INTENTIONAL plan/panel change, paste the blocks into
  * `SparkEntry.oracleSql` (z01) / `CoreQueries.oracles` (q35), then
  * re-run the oracle gate at sf0.001 AND sf0.01.
  *
  *   sbt "Test/runMain graft.tools.RegenPinnedOracles"
  */
object RegenPinnedOracles {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val spark = graft.LocalSession(8)
    spark.sparkContext.setLogLevel("ERROR")

    println(s"-- z01 pinned VALUES (plan-structural, scale-independent; from ${dirs.head}):")
    val z = graft.SparkEntry.queries("z01_lineage_extraction")(spark, dirs.head)
      .collect().sortBy(_.getString(0))
      .map(r => s"          ('${r.getString(0)}', ${r.getInt(1)}, ${r.getInt(2)}, " +
        s"${r.getInt(3)}, ${r.getInt(4)})")
    // comma BETWEEN rows only — a trailing comma before the closing
    // paren would make the pasted VALUES block a syntax error (r13
    // review: "paste-ready" must mean paste-ready)
    println(z.mkString(",\n"))

    println("-- q35 pinned VALUES (one block per sf, keyed by lineitem count):")
    val q = dirs.flatMap { d =>
      val n = spark.read.parquet(s"$d/lineitem.parquet").count()
      graft.SparkEntry.queries("q35_sketch_aggs")(spark, d)
        .collect().sortBy(_.getString(0)).map { r =>
          s"        ($n, '${r.getString(0)}', ${r.getLong(1)}, " +
            s"${r.getLong(2)}, ${r.getDouble(3)}, ${r.getDouble(4)})"
        }
    }
    println(q.mkString(",\n"))
    spark.stop()
  }
}
