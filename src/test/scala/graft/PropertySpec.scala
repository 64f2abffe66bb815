package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized (seeded) property tests for the custom Catalyst pieces:
  * generated inputs driven through the real Column/codegen path, checked
  * against reference formulations built from Spark built-ins. */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("property-spec")
    .getOrCreate()

  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private val alphabet = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ "  ..,,--!!__//\t"

  private def randString(): String =
    Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString

  test("normalize_text equals the regex pipeline on 500 random ASCII strings") {
    val strings = Seq.fill(500)(randString())
    val df = strings.toDF("t")
    val regexForm = trim(regexp_replace(regexp_replace(lower($"t"), "[^a-z0-9 ]", ""), " +", " "))
    val bad = df.filter(normalize_text($"t") =!= regexForm)
    assert(bad.count() === 0, bad.collect().take(3).mkString("; "))
  }

  test("top_k_struct survives the sort-based aggregation fallback (many groups)") {
    // ObjectHashAggregate falls back to sort-based aggregation past
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128)
    // distinct keys per partition — that path round-trips the buffer
    // through serialize/deserialize
    val n = 5000
    val rows = (0 until n).map(i => (i % 1000, (i * 2654435761L) % 10000))
    val df = rows.toDF("g", "v")
    val got = df.groupBy("g")
      .agg(top_k_struct(struct($"v"), 2).as("top"))
      .select($"g", explode($"top.v").as("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toList.sorted
    val expected = rows.groupBy(_._1).toList.flatMap { case (g, vs) =>
      vs.map(_._2).sorted.take(2).map(g -> _)
    }.sorted
    assert(got === expected)
  }

  test("top_k_pair survives the sort-based aggregation fallback (many groups), " +
      "both distinct modes") {
    // Verify/Bench raise the fallback threshold so the inventory never
    // sort-spills, but a default-conf cluster (threshold 128) WILL take
    // this path — it round-trips the flat PairTopK buffer through
    // serialize/deserialize repeatedly during the sort-based merge, a
    // different lifecycle than the hash path the equivalence spec covers
    val n = 5000
    val rows = (0 until n).map(i =>
      (i % 1000L, ((i * 2654435761L) % 10000).toDouble, (i * 48271L) % 7919))
    val df = rows.toDF("g", "s", "id").repartition(3)
    for (distinct <- Seq(false, true)) {
      val got = df.groupBy("g")
        .agg((if (distinct) top_k_pair_distinct($"s" * -1, $"id", 2)
          else top_k_pair($"s" * -1, $"id", 2)).as("top"))
        .select($"g", explode($"top").as("e"))
        .select($"g", $"e.neg_score", $"e.neighbor_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList.sorted
      val expected = rows.groupBy(_._1).toList.flatMap { case (g, vs) =>
        val pairs = vs.map(v => (-v._2, v._3))
        (if (distinct) pairs.distinct else pairs).sorted.take(2).map(p => (g, p._1, p._2))
      }.sorted
      assert(got === expected, s"distinct=$distinct")
    }
  }

  test("top_k_struct equals sort-ascending take(k) across random groups and k") {
    for (trial <- 0 until 5) {
      val k = 1 + rnd.nextInt(8)
      val rows = Seq.fill(300)((rnd.nextInt(6), rnd.nextLong() % 1000))
      val df = rows.toDF("g", "v")
      val got = df.groupBy("g")
        .agg(top_k_struct(struct($"v"), k).as("top"))
        .select($"g", explode($"top.v").as("v"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toList.sorted
      val expected = rows.groupBy(_._1).toList.flatMap { case (g, vs) =>
        vs.map(_._2).sorted.take(k).map(g -> _)
      }.sorted
      assert(got === expected, s"trial=$trial k=$k")
    }
  }

  test("top_k_struct_distinct equals sorted-distinct take(k) regardless of " +
    "multiplicity (incl. the serialize fallback path)") {
    import org.apache.spark.sql.graft.functions.top_k_struct_distinct
    for (trial <- 0 until 5) {
      val k = 1 + rnd.nextInt(8)
      // heavy duplication: values drawn from a small domain so the plain
      // top-k buffer would fill with copies of the minimum
      val rows = Seq.fill(5000)((rnd.nextInt(200), (rnd.nextInt(25) * 7919L) % 1000))
      val df = rows.toDF("g", "v")
      val got = df.groupBy("g")
        .agg(top_k_struct_distinct(struct($"v"), k).as("top"))
        .select($"g", explode($"top.v").as("v"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toList.sorted
      val expected = rows.groupBy(_._1).toList.flatMap { case (g, vs) =>
        vs.map(_._2).distinct.sorted.take(k).map(g -> _)
      }.sorted
      assert(got === expected, s"trial=$trial k=$k")
    }
  }

  test("top_k_struct_distinct dedups by ORDERING equality on float keys: " +
      "-0.0/0.0 and repeated NaN collapse to one entry each") {
    import org.apache.spark.sql.graft.functions.top_k_struct_distinct
    val df = Seq(0.0, -0.0, Double.NaN, Double.NaN, 1.0, 1.0).toDF("v")
    val got = df.select(top_k_struct_distinct(struct($"v"), 6).as("top"))
      .select(explode($"top.v").as("v")).collect().map(_.getDouble(0))
    // SQL ordering: -0.0 == 0.0, NaN == NaN (sorting last) → 3 distinct
    assert(got.length === 3, s"expected 3 ordering-distinct values, got ${got.toSeq}")
    assert(got(0) === 0.0 && got(1) === 1.0 && got(2).isNaN)
  }

  test("cdc_chunk_hashes_md5: re-alignment holds for the SQL-replayable " +
    "kernel too (edit early, most chunks survive)") {
    import org.apache.spark.sql.graft.functions.cdc_chunk_hashes_md5
    for (trial <- 0 until 5) {
      val base = Seq.fill(1200 + rnd.nextInt(800))((97 + rnd.nextInt(26)).toChar).mkString
      val at = rnd.nextInt(base.length / 4)
      val edited = base.substring(0, at) + "X" + base.substring(at)
      val rows = Seq(base, edited).toDF("t")
        .select(cdc_chunk_hashes_md5($"t").as("ch")).collect()
      val (a, b) = (rows(0).getSeq[Long](0), rows(1).getSeq[Long](0))
      val shared = a.toSet.intersect(b.toSet).size
      assert(shared * 10 >= a.toSet.size * 6,
        s"trial=$trial: only $shared of ${a.toSet.size} chunks re-aligned after a prefix edit")
      // determinism: a second evaluation is identical
      val again = Seq(base).toDF("t")
        .select(cdc_chunk_hashes_md5($"t").as("ch")).head().getSeq[Long](0)
      assert(again == a)
    }
  }

  test("bloom_count_hits has no false negatives across random digests and probes") {
    for (trial <- 0 until 5) {
      val members = Seq.fill(500)(rnd.nextLong()).distinct
      val bf = org.apache.spark.util.sketch.BloomFilter.create(members.size.toLong, 0.03)
      members.foreach(bf.putLong)
      val probes = Seq.fill(50)(
        (Seq.fill(rnd.nextInt(20))(members(rnd.nextInt(members.size))) ++
          Seq.fill(rnd.nextInt(20))(rnd.nextLong())).toArray)
      val got = probes.toDF("a").select(bloom_count_hits($"a", bf).as("h"))
        .collect().map(_.getInt(0))
      probes.zip(got).foreach { case (arr, hits) =>
        val memberCount = arr.count(members.toSet)
        // one-sided error: every true member counts; false positives only add
        assert(hits >= memberCount && hits <= arr.length, s"trial=$trial")
      }
    }
  }

  test("zorder_key: de-interleave recovers both coordinates on random input; " +
      "keys of distinct points are distinct") {
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      var i = 0
      while (i < 31) {
        x |= ((z >>> (2 * i)) & 1L) << i
        y |= ((z >>> (2 * i + 1)) & 1L) << i
        i += 1
      }
      (x, y)
    }
    val pts = Seq.fill(2000)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val keys = pts.map { case (x, y) =>
      (x, y, org.apache.spark.sql.graft.ZOrderOps.interleave2(x, y, 16))
    }
    keys.foreach { case (x, y, z) =>
      assert(deinterleave(z) === ((x, y)), s"roundtrip failed for ($x, $y)")
    }
    // injectivity on the masked domain: distinct (x, y) -> distinct keys
    assert(keys.map(_._3).distinct.size === pts.distinct.size)
  }

  test("winnow_fingerprints: the guarantee holds for random spans at random offsets") {
    // plant one shared span (length ≥ w+k−1 = 39) into two random carriers
    // at independent random offsets; the fingerprint sets must intersect
    val wordRnd = new scala.util.Random(7)
    def words(n: Int): String =
      Seq.fill(n)(Seq.fill(3 + wordRnd.nextInt(6))(
        ('a' + wordRnd.nextInt(26)).toChar).mkString).mkString(" ")
    val cases = (0 until 20).map { _ =>
      val span = words(12) // ~70-90 chars of random words, well over 39
      val a = words(wordRnd.nextInt(20)) + " " + span + " " + words(wordRnd.nextInt(20))
      val b = words(wordRnd.nextInt(20)) + " " + span + " " + words(wordRnd.nextInt(20))
      (a, b)
    }
    val df = cases.toDF("a", "b").select(
      winnow_fingerprints($"a", 32, 8).as("fa"),
      winnow_fingerprints($"b", 32, 8).as("fb"))
    df.collect().zipWithIndex.foreach { case (r, i) =>
      val fa = r.getSeq[Long](0).toSet
      val fb = r.getSeq[Long](1).toSet
      assert(fa.intersect(fb).nonEmpty, s"case $i: planted span not detected")
    }
    // robustness: arbitrary unicode (multi-byte, surrogate pairs, empty)
    // neither crashes nor breaks determinism (the d16 ORACLE is
    // ASCII-scoped — char-vs-codepoint slicing differs across engines —
    // but the expression itself must be total)
    val uni = Seq("", "héllo wörld ünïcode tëxt with äccents everywhere",
      "日本語のテキストとemoji 😀😀😀 surrogate pairs", "a" * 100)
    val once = uni.toDF("t").select(winnow_fingerprints($"t", 32, 8)).collect()
      .map(_.getSeq[Long](0))
    val twice = uni.toDF("t").select(winnow_fingerprints($"t", 32, 8)).collect()
      .map(_.getSeq[Long](0))
    assert(once.map(_.toList).toList === twice.map(_.toList).toList)
    once.foreach(f => assert(f.nonEmpty))
  }

  test("q98's SQL debounce fold equals a reference greedy walk on 200 random timelines") {
    // the distributed fold (sorted collect_list + aggregate) against a
    // direct Scala implementation of the greedy anchor walk, over random
    // bursty timelines with duplicate timestamps
    val tol = 1000L
    val keys = (1 to 200).map { k =>
      val n = 1 + rnd.nextInt(40)
      var t = rnd.nextInt(500).toLong
      val evs = (1 to n).map { i =>
        t += (if (rnd.nextBoolean()) rnd.nextInt(300) else rnd.nextInt(3000)).toLong
        (k.toLong, t, (k * 1000 + i).toLong)
      }
      k.toLong -> evs
    }.toMap
    def reference(evs: Seq[(Long, Long, Long)]): Seq[Long] = {
      var last = Long.MinValue
      evs.sortBy(e => (e._2, e._3)).flatMap { case (_, ts, id) =>
        if (last == Long.MinValue || ts - last >= tol) { last = ts; Some(id) } else None
      }
    }
    val df = rnd.shuffle(keys.values.flatten.toSeq).toDF("k", "ts_us", "event_id")
    val got = df
      .groupBy("k")
      .agg(sort_array(collect_list(struct($"ts_us", $"event_id"))).as("evs"))
      .select($"k", explode(expr(
        s"""aggregate(evs,
              named_struct('last', CAST(-1 AS BIGINT),
                           'kept', CAST(array() AS ARRAY<STRUCT<ts_us: BIGINT, event_id: BIGINT>>)),
              (acc, e) -> IF(acc.last < 0 OR e.ts_us - acc.last >= ${tol}L,
                             named_struct('last', e.ts_us, 'kept', array_append(acc.kept, e)),
                             acc),
              acc -> acc.kept)""")).as("e"))
      .select($"k", $"e.event_id")
      .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    keys.foreach { case (k, evs) =>
      assert(got.getOrElse(k, Set.empty) === reference(evs).toSet, s"key $k diverged")
    }
  }
}
