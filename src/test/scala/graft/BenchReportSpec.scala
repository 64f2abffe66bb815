package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}
import org.apache.spark.sql.graft.ListenerBusDrain
import org.scalatest.funsuite.AnyFunSuite

/** The bench's reporting paths that run after the timed work: reading an
  * observed metric before it arrives, and a summary line over its cap —
  * neither may abort a finished run — plus the per-stage telemetry every
  * entry's attribution columns are derived from. */
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

  test("telemetry: entry columns aggregate the stage records, stages keep the longest six") {
    val sc = spark.sparkContext
    val telemetry = new Bench.Telemetry
    sc.addSparkListener(telemetry)
    def entry(job: => Unit): (Bench.EntryStats, Seq[Bench.StageRecord]) = {
      assert(ListenerBusDrain.drain(sc))
      telemetry.reset()
      job
      assert(ListenerBusDrain.drain(sc))
      (telemetry.snap(1.5, 7L, drained = true), telemetry.records)
    }
    try {
      // one shuffle over a 25-row table, then eight one-stage jobs
      val (agg, aggRecs) = entry(spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .groupBy(col("n_regionkey")).count().collect())
      val (many, manyRecs) = entry((1 to 8).foreach(i => spark.range(i * 10L).collect()))
      assert(aggRecs.map(_.recRead).sum === 25L)
      assert(aggRecs.map(_.shufRec).sum > 0 && aggRecs.map(_.cpuNs).sum > 0)
      assert(manyRecs.size >= 8)
      for ((e, recs) <- Seq(agg -> aggRecs, many -> manyRecs)) {
        assert(e.cpuSec === math.round(recs.map(_.cpuNs).sum / 1e6) / 1e3)
        assert(e.spillMb === recs.map(_.spillBytes).sum >> 20)
        assert(e.gcMs === recs.map(_.gcMs).sum)
        assert(e.peakMemMb === recs.map(_.peakBytes).max >> 20)
        assert(e.recRead === recs.map(_.recRead).sum)
        assert(e.shufRec === recs.map(_.shufRec).sum)
        assert(e.shufMb === recs.map(_.shufWriteBytes).sum >> 20)
        assert((e.sec, e.rows, e.attrSec) === ((1.5, 7L, 1.5)))
        val walls = e.stages.map(_.wallMs)
        assert(e.stages.size === math.min(recs.size, Bench.TopStages))
        assert(walls === walls.sorted.reverse)
        assert(recs.diff(e.stages).forall(_.wallMs <= walls.min))
      }
      assert(many.stages.size === Bench.TopStages)
    } finally sc.removeSparkListener(telemetry)
    // a failed drain keeps wall and rows, and marks every attribution column
    assert(telemetry.snap(1.5, 7L, drained = false) ===
      Bench.EntryStats(1.5, -1.0, -1L, -1L, -1L, -1L, -1L, -1L, 7L, -1.0, Nil))
  }

  test("a pooled build names its stages after the call site it sets") {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = spark.sparkContext
    val telemetry = new Bench.Telemetry
    sc.addSparkListener(telemetry)
    try {
      assert(ListenerBusDrain.drain(sc))
      telemetry.reset()
      // a shuffle, and a broadcast built on Spark's own exchange pool
      Await.result(Future(blocking(SparkEntry.withCallSite(spark, "zpanel_build q80_textrank") {
        spark.range(100).join(broadcast(spark.range(10).withColumn("b", col("id") * 2)), "id")
          .groupBy(col("b")).count().collect()
      })), Duration.Inf)
      assert(ListenerBusDrain.drain(sc))
      val names = telemetry.records.map(_.name)
      assert(names.size >= 2 && names.forall(_ == "zpanel_build q80_textrank"), names)
    } finally sc.removeSparkListener(telemetry)
  }

  test("a stage record renders as JSON in ms and MB, its name escaped") {
    val r = Bench.StageRecord(3, "count at \"x\\y\"\t", 12L, 2500000L, 4L, 3L << 20,
      5L << 20, 1L << 20, 9L << 20, 2, 25L, 6L)
    assert(Bench.stageJson(r) === "{\"stage\":3,\"name\":\"count at \\\"x\\\\y\\\"\\u0009\"," +
      """"wall_ms":12,""" +
      """"cpu_ms":2,"gc_ms":4,"shuffle_read_mb":3,"shuffle_write_mb":5,"spill_mb":1,""" +
      """"peak_mem_mb":9,"tasks":2,"records_read":25,"shuffle_records":6}""")
  }
}
