package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQueries

/** The LSH degenerate-bucket cap (d03/d04/d05/d07) and d14's df-stoplist
  * lever: capping/stoplisting must not change results on the fixture (no
  * fixture bucket comes near the cap), and must collapse the Θ(m²)
  * single-bucket blow-up on a boilerplate-heavy corpus. */
class DedupCapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("dedup-cap-spec")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  import org.apache.spark.sql.graft.functions.{minhash_signature, simhash_md5, token_shingle_hashes}

  private def shingles(docs: DataFrame) =
    docs.select(col("doc_id"), token_shingle_hashes(col("text"), 3).as("sh"))

  private def sigs(docs: DataFrame) =
    shingles(docs).select(col("doc_id"), minhash_signature(col("sh"), 32).as("sig"))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // 200 byte-identical boilerplate docs: every band bucket (MinHash and
  // SimHash alike) holds all 200 members, the degenerate shape the cap is
  // for. Uncapped, the self-join pairs C(200,2) = 19900 candidates inside
  // single reducers.
  private lazy val boilerplate = {
    import spark.implicits._
    (1L to 200L).map(i => (i, "terms of service apply to everything on this site"))
      .toDF("doc_id", "text")
  }

  test("capped LSH candidates equal uncapped on the fixture (d03 + d05 layouts)") {
    val sg = sigs(spark.read.parquet(s"$sf/documents.parquet"))
    for ((bands, rows) <- Seq((8, 4), (16, 2))) {
      val capped = pairSet(DedupQueries.lshCandidates(sg, bands, rows))
      val uncapped = pairSet(DedupQueries.lshCandidates(sg, bands, rows, Long.MaxValue))
      assert(capped.nonEmpty, s"layout ${bands}x$rows produced no candidates")
      assert(capped === uncapped, s"cap changed candidates for layout ${bands}x$rows")
    }
  }

  test("capped SimHash pairs equal uncapped on the fixture (d04)") {
    // run in d04's OWN hash domain (md5): this equality is what licenses
    // d04's brute-force oracle — capped banded join ≡ uncapped ≡ (by the
    // pigeonhole completeness of 4 bands over hamming ≤ 3) brute force
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), simhash_md5(col("text")).as("simhash"))
    val capped = pairSet(DedupQueries.simhashPairs(d))
    val uncapped = pairSet(DedupQueries.simhashPairs(d, Long.MaxValue))
    assert(capped === uncapped)
  }

  test("capped SRP candidates equal uncapped on the fixture (d07)") {
    // d07's own sketch domain (md5 hyperplanes), as for d04 above
    import org.apache.spark.sql.graft.functions.vec_srp_md5
    val sk = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), vec_srp_md5(col("embedding"), 32).as("sk"))
    def vecPairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = vecPairs(DedupQueries.srpCandidates(sk))
    val uncapped = vecPairs(DedupQueries.srpCandidates(sk, Long.MaxValue))
    assert(capped.nonEmpty)
    assert(capped === uncapped)
  }

  test("the cap collapses a degenerate MinHash bucket, leaving other pairs intact") {
    import spark.implicits._
    // mix the boilerplate cluster with two small true near-dup clusters
    // whose buckets stay under the cap: the cap must kill ONLY the
    // boilerplate pairs
    val extra = Seq(
      (1001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (1002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau phi"),
      (2001L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
      (2002L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen zero")
    ).toDF("doc_id", "text")
    val sg = sigs(boilerplate.union(extra))
    val uncapped = pairSet(DedupQueries.lshCandidates(sg, 8, 4, Long.MaxValue))
    val capped = pairSet(DedupQueries.lshCandidates(sg, 8, 4, bucketCap = 20L))
    assert(uncapped.size >= 19900, s"expected the boilerplate blow-up, got ${uncapped.size}")
    assert(capped.size < 100, s"cap did not collapse the degenerate bucket: ${capped.size}")
    // the small clusters' pairs survive — they collide in under-cap buckets
    assert(capped.contains((1001L, 1002L)))
    assert(capped.contains((2001L, 2002L)))
    // and nothing new appears: capped candidates are a subset of uncapped
    assert(capped.subsetOf(uncapped))
  }

  test("the cap collapses a degenerate SimHash bucket (d04 shape)") {
    val d = boilerplate.select(col("doc_id"), simhash_md5(col("text")).as("simhash"))
    assert(DedupQueries.simhashPairs(d, Long.MaxValue).count() === 19900L)
    assert(DedupQueries.simhashPairs(d, bucketCap = 20L).count() === 0L)
  }

  test("the cap collapses a degenerate SRP bucket (d07 shape)") {
    import spark.implicits._
    // identical sketches → every band bucket holds all 200 vec ids
    val sk = (1L to 200L).map(i => (i, 0x1234567890abcdefL)).toDF("vec_id", "sk")
    assert(DedupQueries.srpCandidates(sk, Long.MaxValue).count() === 19900L)
    assert(DedupQueries.srpCandidates(sk, bucketCap = 20L).count() === 0L)
  }

  test("buckets exactly at the cap are kept; only strictly-larger are dropped") {
    import spark.implicits._
    val banded = Seq.tabulate(25) { i =>
      if (i < 21) (0, 7L, i.toLong) else (1, 9L, i.toLong) // bucket sizes 21 and 4
    }.toDF("band_id", "band_val", "doc_id")
    assert(DedupQueries.capBuckets(banded, Seq("band_id", "band_val"), 21L).count() === 25L)
    assert(DedupQueries.capBuckets(banded, Seq("band_id", "band_val"), 20L).count() === 4L)
  }

  test("stoplisted d14 containment equals the default path on the fixture") {
    val sh = shingles(spark.read.parquet(s"$sf/documents.parquet"))
    def toSet(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = toSet(DedupQueries.containmentPairsOf(sh))
    val stoplisted = toSet(DedupQueries.containmentPairsOf(sh, dfStopThreshold = Some(50L)))
    assert(base.nonEmpty)
    assert(stoplisted === base)
  }

  test("d14's stoplist prunes heavy-hitter candidates while values stay exact") {
    import spark.implicits._
    // a short doc fully contained in a long one, plus the boilerplate
    // cluster: the stoplist kills the boilerplate candidates, and the
    // surviving pair's containment is verified on FULL sets (exact 1000)
    val docs = boilerplate.union(Seq(
      (3001L, "red orange yellow green blue indigo violet"),
      (3002L, "red orange yellow green blue indigo violet and a much longer tail " +
        "with many extra words that dilute the jaccard but not the containment")
    ).toDF("doc_id", "text"))
    val sh = shingles(docs)
    val pruned = DedupQueries.containmentPairsOf(sh, Some(20L))
    val got = pruned.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((3001L, 3002L, 1000L)))
  }
}
