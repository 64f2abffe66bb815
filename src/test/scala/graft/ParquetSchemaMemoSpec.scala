package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBusDrain
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDsl.readParquet

/** `QueryDsl.readParquet`: a repeat read of unchanged files runs no
  * schema-inference job, any change to the files or the confs re-infers,
  * and the DataFrame equals the plain `s.read.parquet`'s. */
class ParquetSchemaMemoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("parquet-schema-memo-spec")
    .getOrCreate()

  /** The tables and entries of the `inventory-sf0.1` benchmark workload. */
  private val sf01 = Paths.get("flowbench/data/sf0.1")
  private val inventoryEntries = Files.readAllLines(Paths.get("flowbench/pins/inventory-sf0.1.tsv"))
    .asScala.toSeq.filterNot(_.startsWith("#")).map(_.split("\t")(0))

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobs[A](body: => A): (A, Int) = {
    ListenerBusDrain.drain(spark.sparkContext)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      ListenerBusDrain.drain(spark.sparkContext)
      (a, started.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withTempDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("parquet-schema-memo")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  private def assertSameRead(memo: DataFrame, plain: DataFrame): Unit = {
    assert(memo.schema == plain.schema)
    assert(memo.queryExecution.optimizedPlan.sameResult(plain.queryExecution.optimizedPlan))
  }

  /** One Spark-written part file of `df`, copied to the single file `to`. */
  private def writeSingleFile(df: DataFrame, to: Path): Unit = withTempDir { tmp =>
    val out = tmp.resolve("out")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, to, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of an unchanged file starts no job and equals the plain read") {
    withTempDir { dir =>
      val orders = dir.resolve("orders.parquet")
      Files.copy(sf01.resolve("orders.parquet"), orders)
      val (first, missJobs) = jobs(readParquet(spark, orders.toString))
      val (second, hitJobs) = jobs(readParquet(spark, orders.toString))
      assert(missJobs >= 1, "the first read should infer the schema")
      assert(hitJobs == 0, s"the repeat read started $hitJobs jobs")
      assertSameRead(second, spark.read.parquet(orders.toString))
      assert(first.collect().toSet == second.collect().toSet)
      // each call builds its own relation, so a self-join resolves
      assert(first.queryExecution.analyzed.output.map(_.exprId)
        .intersect(second.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    }
  }

  test("every sf0.1 table reads as the plain read does, memo hit or miss") {
    Files.list(sf01).iterator().asScala.toSeq.sortBy(_.toString).foreach { t =>
      val path = t.toString
      readParquet(spark, path)
      val (memo, n) = jobs(readParquet(spark, path))
      assert(n == 0, s"$path: repeat read started $n jobs")
      assertSameRead(memo, spark.read.parquet(path))
    }
  }

  test("rewriting a file with a different schema returns the new schema") {
    withTempDir { dir =>
      val f = dir.resolve("t.parquet")
      writeSingleFile(spark.range(10).toDF("a"), f)
      assert(readParquet(spark, f.toString).schema.fieldNames.toSeq == Seq("a"))
      writeSingleFile(spark.range(10).select(col("id").as("a"), col("id").cast("string").as("b")), f)
      val (df, n) = jobs(readParquet(spark, f.toString))
      assert(n >= 1, "a rewritten file should be inferred again")
      assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
      assertSameRead(df, spark.read.parquet(f.toString))
    }
  }

  test("overwriting and appending to a partitioned directory return the current schema") {
    withTempDir { dir =>
      val path = dir.resolve("p").toString
      def current(): DataFrame = {
        val (df, n) = jobs(readParquet(spark, path))
        assert(n >= 1, "a changed directory should be inferred again")
        assertSameRead(df, spark.read.parquet(path))
        df
      }
      spark.range(20).select(col("id").as("v"), (col("id") % 2).cast("int").as("p"))
        .write.partitionBy("p").parquet(path)
      assert(current().schema("p").dataType == IntegerType)
      assert(jobs(readParquet(spark, path))._2 == 0)
      // overwrite: a new data column
      spark.range(20).select(col("id").as("v"), lit("x").as("w"), (col("id") % 2).cast("int").as("p"))
        .write.mode("overwrite").partitionBy("p").parquet(path)
      assert(current().schema.fieldNames.toSeq == Seq("v", "w", "p"))
      // append: existing files stay, a non-integral partition value turns
      // the inferred partition column into a string. Without a _SUCCESS
      // marker only files under the partition directories change, which
      // only a recursive listing sees.
      spark.range(5).select(col("id").as("v"), lit("y").as("w"), lit("q").as("p"))
        .write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .mode("append").partitionBy("p").parquet(path)
      val appended = current()
      assert(appended.schema("p").dataType == StringType)
      assert(appended.count() == 25)
    }
  }

  test("changing spark.sql.parquet.binaryAsString re-infers") {
    withTempDir { dir =>
      // a file without Spark's schema metadata, the only kind whose inferred
      // schema depends on binaryAsString
      val f = dir.resolve("bin.parquet")
      val conf = new Configuration()
      val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
      val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
        .withType(schema).withConf(conf).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
      finally w.close()
      val key = "spark.sql.parquet.binaryAsString"
      val before = spark.conf.getOption(key)
      try {
        spark.conf.set(key, "false")
        assert(readParquet(spark, f.toString).schema("b").dataType == BinaryType)
        spark.conf.set(key, "true")
        val (df, n) = jobs(readParquet(spark, f.toString))
        assert(n >= 1, "a conf change should re-infer")
        assert(df.schema("b").dataType == StringType)
        assert(df.collect().map(_.getString(0)).toSeq == Seq("x"))
      } finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("each inventory-sf0.1 entry builds the same plan from the memo, starting no job") {
    assert(inventoryEntries.size == 8)
    inventoryEntries.foreach { name =>
      // a fresh copy of the tables: the first build misses on every read,
      // which is the plain s.read.parquet, and the rebuild hits
      withTempDir { dir =>
        Files.list(sf01).iterator().asScala.foreach(t => Files.copy(t, dir.resolve(t.getFileName)))
        val entry = SparkEntry.queries(name)
        val (plain, missJobs) = jobs(entry(spark, dir.toString))
        val (memo, hitJobs) = jobs(entry(spark, dir.toString))
        assert(missJobs >= 1, s"$name: the first build read no table")
        assert(hitJobs == 0, s"$name: rebuilding started $hitJobs jobs")
        assertSameRead(memo, plain)
      }
    }
  }
}
