package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.ListenerBusDrain
import org.scalatest.funsuite.AnyFunSuite

/** The bench's reporting paths that run after the timed work: reading an
  * observed metric before it arrives, and a summary line over its cap.
  * Neither may abort a finished run. */
class BenchReportSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("bench-report-spec")
    .getOrCreate()

  test("observed reads an empty map before the metrics arrive, the metrics after") {
    val obs = Observation()
    assert(ListenerBusDrain.observed(obs) === Map.empty)
    spark.range(5).observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    assert(obs.get("rows") === 5L)
    assert(ListenerBusDrain.observed(obs) === Map("rows" -> 5L))
  }

  private val fields = Seq("metric" -> "\"total\"", "value" -> "1.000", "details" -> "\"d.json\"")

  test("a summary line within the cap keeps every field") {
    val heavy = "heavy_cpu_s" -> "{\"s11\":45.100}"
    assert(Bench.summaryLine(fields :+ heavy) ===
      """{"metric":"total","value":1.000,"details":"d.json","heavy_cpu_s":{"s11":45.100}}""")
  }

  test("an over-long summary line drops heavy_cpu_s instead of aborting") {
    val heavy = "heavy_cpu_s" -> (1 to 200).map(i => s""""h$i":1.000""").mkString("{", ",", "}")
    val line = Bench.summaryLine(fields.take(2) ++ Seq(heavy) ++ fields.drop(2))
    assert(line === """{"metric":"total","value":1.000,"details":"d.json"}""")
    // still over the cap without it: printed anyway, with a warning
    val huge = "queries" -> ("\"" + "x" * Bench.SummaryCap + "\"")
    assert(Bench.summaryLine(fields :+ huge :+ heavy).length > Bench.SummaryCap)
  }
}
