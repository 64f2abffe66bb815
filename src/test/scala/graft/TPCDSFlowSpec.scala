package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{SQLFlow, TestPlanBridge}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** TPC-DS schema-only lineage corpus, mirroring the reference's
  * TPCDSFlowTestSuite (/root/reference/src/test/scala/org/apache/spark/sql/
  * flow/TPCDSFlowTestSuite.scala:22-36): the 24 official TPC-DS tables are
  * created as empty parquet tables (schema from the public TPC-DS spec,
  * stored as plain DDL in `tpcds-flow-tests/schema.sql`), each of the 103
  * benchmark queries is registered as temp view `v`, and the catalog lineage
  * snapshot (plain + contracted) is compared against a golden dot file as a
  * sorted line set. This is the main robustness net for the per-operator
  * lineage rules: the corpus exercises deep join trees, CTEs, rollup,
  * window functions, correlated subqueries, and set ops at realistic plan
  * depth. Each query's per-Dataset graph is also checked to be the same
  * whether the lineage memo is reused or not. Regenerate with
  * `SPARK_GENERATE_GOLDEN_FILES=1 sbt "testOnly graft.TPCDSFlowSpec"`.
  */
class TPCDSFlowSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("tpcds-flow-spec")
    .getOrCreate()

  private val base = new File("src/test/resources/tpcds-flow-tests")
  private val regenerate = sys.env.contains("SPARK_GENERATE_GOLDEN_FILES")

  // Tables created by this suite (parsed from schema.sql), dropped in
  // afterAll so the shared session stays clean for other suites.
  private lazy val tableNames: Seq[String] = schemaStatements.flatMap { ddl =>
    "CREATE TABLE `(\\w+)`".r.findFirstMatchIn(ddl).map(_.group(1))
  }

  private lazy val schemaStatements: Seq[String] =
    Files.readString(new File(base, "schema.sql").toPath)
      .split(";").map(_.trim).filter(_.nonEmpty).toSeq

  override def beforeAll(): Unit = {
    super.beforeAll()
    // drop leftovers from a crashed prior run, then create schema-only tables
    tableNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    // the catalog lineage memo is only used while nothing is cached, and
    // suites sharing this session may leave data cached
    spark.catalog.clearCache()
    schemaStatements.foreach(spark.sql(_))
  }

  override def afterAll(): Unit = {
    try tableNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    finally super.afterAll()
  }

  private def dropAllTempViews(): Unit = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    cat.getTempViewNames().foreach(spark.catalog.dropTempView)
  }

  new File(base, "inputs").listFiles((_, n) => n.endsWith(".sql"))
    .sortBy(_.getName)
    .foreach { input =>
      val name = input.getName.stripSuffix(".sql")
      test(s"tpcds lineage: $name") {
        dropAllTempViews()
        try {
          val query = Files.readString(input.toPath)
          val df = spark.sql(query)
          df.createOrReplaceTempView("v")
          // plain runs twice: the first call stores the view's lineage memo,
          // the contracted call and the second plain call reuse it, so the
          // goldens are checked on a miss and on a hit
          Seq(false -> s"results/$name.dot",
              true -> s"results/$name.contracted.dot",
              false -> s"results/$name.dot").foreach { case (contracted, rel) =>
            val dot = SQLFlow.printAsSQLFlow(spark, contracted = contracted)
            val goldenFile = new File(base, rel)
            val normalized = dot.linesIterator.map(_.trim).filter(_.nonEmpty)
              .toSeq.sorted.mkString("\n")
            if (regenerate) {
              Files.writeString(goldenFile.toPath, normalized)
            } else {
              assert(goldenFile.exists(), s"golden missing: $goldenFile " +
                "(regenerate with SPARK_GENERATE_GOLDEN_FILES=1)")
              val expected = Files.readString(goldenFile.toPath)
              assert(normalized === expected, s"lineage snapshot drifted for $rel")
            }
          }
          // per-Dataset lineage: a call that reuses the memo returns what a
          // call that walks the plan returns, plain and contracted
          val missPlain = SQLFlow.datasetGraph(df)
          assert(TestPlanBridge.keepsLineage(df), "the per-Dataset call kept no memo")
          val hitPlain = SQLFlow.datasetGraph(df)
          val hitContracted = SQLFlow.datasetGraph(df, contracted = true)
          TestPlanBridge.forgetLineage(df)
          val missContracted = SQLFlow.datasetGraph(df, contracted = true)
          assert(hitPlain === missPlain)
          assert(hitContracted === missContracted)
        } finally dropAllTempViews()
      }
    }
}
