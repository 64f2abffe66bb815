package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the native Catalyst expressions, driven through the Column
  * API (codegen path) rather than direct eval. */
class ExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("expr-spec")
    .getOrCreate()

  import spark.implicits._

  test("token_shingle_hashes: sorted distinct hash sets; short docs get one shingle") {
    val df = Seq(
      "a b c d",        // 2 shingles of 3 tokens
      "a b",            // shorter than n -> 1 shingle
      "",               // empty -> 1 sentinel
      "x x x x x"       // repeated shingle "x x x" deduped -> 1
    ).toDF("t").select(token_shingle_hashes($"t", 3).as("sh"))
    val got = df.collect().map(_.getSeq[Long](0))
    assert(got(0).length === 2)
    assert(got(1).length === 1)
    assert(got(2).length === 1)
    assert(got(3).length === 1, "identical shingles must dedupe")
    got.foreach(s => assert(s == s.sorted, "hash set must be sorted"))
  }

  test("minhash_signature: length = perms; equal sets give equal signatures; " +
      "similar sets agree on more positions than dissimilar ones") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and never"),
      ("c", "completely different words in this one nothing shared at all xyz")
    ).toDF("id", "t")
      .select($"id", minhash_signature(token_shingle_hashes($"t", 3), 32).as("sig"))
    val m = df.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(m("a").length === 32)
    def agree(x: Seq[Long], y: Seq[Long]) = x.zip(y).count { case (p, q) => p == q }
    assert(agree(m("a"), m("a")) === 32)
    assert(agree(m("a"), m("b")) > agree(m("a"), m("c")))
  }

  test("simhash_md5: 60-bit domain, bag-of-words, bit-replicable from per-token md5") {
    val df = Seq(
      ("a", "alpha beta gamma delta"),
      ("b", "delta gamma beta alpha"), // bag-of-words -> same simhash
      ("c", "epsilon zeta eta theta iota kappa"),
      ("e", "")
    ).toDF("id", "t").select($"id", simhash_md5($"t").as("h"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") === m("b"))
    assert(m("a") !== m("c"))
    assert(m("e") === 0L, "no tokens -> all counts 0 -> no bit set")
    assert(m.values.forall(h => h >= 0 && (h >>> 60) == 0L),
      "signatures must fit 60 bits (positive in any signed-64 engine)")
    // the oracle-parity property itself: recompute from first-15-hex-chars
    // md5 token hashes (exactly what the DuckDB oracle does)
    def ref(text: String): Long = {
      val counts = new Array[Int](60)
      text.split(" ").filter(_.nonEmpty).foreach { tok =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8"))
        val hex = d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15)
        val v = java.lang.Long.parseLong(hex, 16)
        (0 until 60).foreach(j => if (((v >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1)
      }
      (0 until 60).foldLeft(0L)((acc, j) => if (counts(j) > 0) acc | (1L << j) else acc)
    }
    assert(m("a") === ref("alpha beta gamma delta"))
    assert(m("c") === ref("epsilon zeta eta theta iota kappa"))
  }

  test("vec_cosine: self-similarity 1.0, orthogonal 0.0, opposite -1.0, zero-vector safe") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f), 0.0)
    ).toDF("a", "b", "expected")
    val bad = df.filter(abs(vec_cosine($"a", $"b") - $"expected") > 1e-9).count()
    assert(bad === 0)
  }

  test("vec_dot / (vec_norm * vec_norm) is BIT-identical to vec_cosine " +
      "(the precomputed-norm hot-path contract) on random vectors") {
    import org.apache.spark.sql.graft.functions.{vec_dot, vec_norm}
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(500)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val denom = vec_norm($"a") * vec_norm($"b")
    val viaNorms = when(denom === 0.0, 0.0).otherwise(vec_dot($"a", $"b") / denom)
    // exact equality, not a tolerance: the whole point is that rank order
    // can never diverge between the two formulations
    val bad = df.filter(viaNorms =!= vec_cosine($"a", $"b")).count()
    assert(bad === 0L)
    // zero-vector guard matches vec_cosine's
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val zd = vec_norm($"a") * vec_norm($"b")
    assert(z.select(when(zd === 0.0, 0.0)
      .otherwise(vec_dot($"a", $"b") / zd)).head.getDouble(0) === 0.0)
  }

  test("normalize_text: equivalent to the lower/strip/collapse/trim regex pipeline") {
    val samples = Seq(
      "Hello, World!  This  is--a TEST 123.",
      "  leading and trailing  ",
      "ALL CAPS AND PUNCT!!!",
      "no-change here 42",
      "",
      "!!!",
      "a    b\tc",       // tab is stripped (not a space), no split
      "Mixed   0n3 Tw0  "
    ).toDF("t")
    val regexForm = trim(regexp_replace(regexp_replace(lower($"t"), "[^a-z0-9 ]", ""), " +", " "))
    val bad = samples.filter(normalize_text($"t") =!= regexForm).count()
    assert(bad === 0)
  }

  test("vec_srp_md5: equals an independent md5-hyperplane recompute; " +
    "same banding geometry as vec_srp") {
    // independent recompute: own MessageDigest, own fold — any drift in
    // SrpMd5Ops' plane derivation or accumulation order breaks equality
    // (and with it the d07 oracle's claim to replay the sketch in SQL)
    def planeR(p: Int, i: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s"$p|$i".getBytes("UTF-8"))
      val v = (0 until 8).foldLeft(0L)((acc, b) => (acc << 8) | (d(b) & 0xffL)) >>> 4
      ((v >> 7).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    def sketch(v: Array[Float]): Long =
      (0 until 32).foldLeft(0L) { (out, p) =>
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i).toDouble * planeR(p, i); i += 1 }
        if (dot > 0) out | (1L << p) else out
      }
    val vecs = Seq(
      Array.tabulate(64)(i => math.sin(i).toFloat),
      Array.tabulate(64)(i => math.cos(i * 3 + 1).toFloat),
      Array.fill(64)(0.0f))
    val got = vecs.zipWithIndex.map { case (v, id) => (id, v) }
      .toDF("id", "v").select($"id", vec_srp_md5($"v", 32).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    vecs.zipWithIndex.foreach { case (v, id) =>
      assert(got(id) === sketch(v), s"vec $id")
    }
    // the zero vector has every dot == 0 (not > 0): all bits clear
    assert(got(2) === 0L)
  }

  test("cdc_chunk_hashes_md5: a mask the text can't meet yields one tail chunk; range enforced") {
    // maskBits >= 29 would overflow an Int-shift max-size cap into a
    // negative bound that force-cuts on every character; with the Long
    // cap, a 40-bit mask over 4096 chars (P(boundary) ~ 2^-28 and
    // max-size ~ 4e12) must produce exactly the single tail chunk
    val rnd = new java.util.Random(7)
    val text = Seq.fill(4096)(('a' + rnd.nextInt(26)).toChar).mkString
    val chunks = Seq(text).toDF("t")
      .select(cdc_chunk_hashes_md5($"t", 16, 40).as("c"))
      .collect().head.getSeq[Long](0)
    assert(chunks.size === 1, s"expected one whole-text chunk, got ${chunks.size}")
    val e = intercept[IllegalArgumentException](cdc_chunk_hashes_md5($"t", 16, 55))
    assert(e.getMessage.contains("[1, 54]"))
  }

  test("registerAll exposes the native expressions to SQL with literal int args") {
    org.apache.spark.sql.graft.functions.registerAll(spark)
    Seq("a b c d e f").toDF("t").createOrReplaceTempView("reg_probe")
    val row = spark.sql("""
      SELECT size(token_shingle_hashes(t, 3)) AS n_sh,
             size(minhash_signature(token_shingle_hashes(t, 3), 16)) AS n_sig,
             simhash_md5(t) AS sh,
             normalize_text('  A  b!! ') AS norm,
             size(cdc_chunk_hashes_md5(t, 4, 3)) AS n_chunks
      FROM reg_probe""").collect().head
    assert(row.getInt(0) === 4)        // 6 tokens -> 4 distinct 3-shingles
    assert(row.getInt(1) === 16)
    assert(row.getString(3) === "a b")
    assert(row.getInt(4) >= 1)
    // non-literal size argument must fail analysis, not silently misbehave
    val e = intercept[Exception](
      spark.sql("SELECT minhash_signature(token_shingle_hashes(t, 3), n_sh) FROM " +
        "(SELECT t, 4 AS n_sh FROM reg_probe)").collect())
    assert(e.getMessage.toLowerCase.contains("literal"))
    spark.catalog.dropTempView("reg_probe")
  }

  test("bloom_count_hits: counts digest members; no false negatives; null-safe") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (1L to 50L).foreach(bf.putLong)
    val rows = Seq(
      Array(1L, 2L, 3L),          // all members
      Array(1L, 1000001L),        // one member, one (probable) non-member
      Array(2000001L, 2000002L),  // (probably) none
      Array.empty[Long])
    val df = rows.toDF("a").select(bloom_count_hits($"a", bf).as("hits"))
    val got = df.collect().map(_.getInt(0))
    // the column result must agree with the driver-side filter — whatever
    // false positives the digest has, they are the SAME ones (one digest,
    // one hash family), so this also pins determinism
    val expected = rows.map(_.count(bf.mightContainLong))
    assert(got.toSeq === expected)
    // one-sided error: every inserted member counts
    assert(got(0) === 3)
    val withNull = Seq((1, Array(1L, 2L)), (2, null)).toDF("id", "a")
      .select($"id", bloom_count_hits($"a", bf).as("hits"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(withNull(1) === Some(2) && withNull(2) === None)
  }

  test("winnow_fingerprints: the winnowing guarantee — a shared span ≥ w+k−1 chars " +
      "is detected at ANY alignment; disjoint texts share nothing; edges covered") {
    val span = "the exact boilerplate sentence that repeats verbatim across documents"
    assert(span.length >= 39) // w+k−1 with k=32, w=8
    // the span is embedded at deliberately misaligned offsets (1, 7, 16
    // chars of distinct prefix) — stride sampling would miss these
    val docs = Seq(
      ("a", s"x $span and then some unrelated tail content here"),
      ("b", s"seven77 $span completely different continuation text"),
      ("c", s"sixteen chars!! $span yet another distinct ending"),
      ("d", "entirely unrelated content with no overlap whatsoever in any window of it"))
    val m = docs.toDF("id", "t")
      .select($"id", winnow_fingerprints($"t", 32, 8).as("fp"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    for (x <- Seq("a", "b", "c"); y <- Seq("a", "b", "c") if x < y) {
      assert(m(x).intersect(m(y)).nonEmpty, s"span not detected between $x and $y")
    }
    Seq("a", "b", "c").foreach(x =>
      assert(m(x).intersect(m("d")).isEmpty, s"false sharing between $x and d"))
    // short-doc edges: shorter than k → one whole-text gram; equal texts agree
    val short = Seq(("s1", "tiny"), ("s2", "tiny"), ("s3", "other")).toDF("id", "t")
      .select($"id", winnow_fingerprints($"t", 32, 8).as("fp"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(short("s1").length === 1 && short("s1") === short("s2"))
    assert(short("s1") !== short("s3"))
    // density: expected 2/(w+1) of positions — allow wide slack, but the
    // set must be far smaller than the gram count and sorted distinct
    val t = docs.head._2
    val fps = m("a")
    assert(fps.size < (t.length - 31) / 2)
    org.apache.spark.sql.graft.functions.registerAll(spark)
    val viaSql = spark.sql(
      s"SELECT winnow_fingerprints('${docs.head._2}', 32, 8)").head().getSeq[Long](0)
    assert(viaSql.toSet === fps, "SQL registration must agree with the Column API")
  }

  test("deletion_variant_hashes: complete blocking for edit distance ≤ 1, " +
      "sorted distinct, SQL-registered") {
    import org.apache.spark.sql.graft.functions.deletion_variant_hashes
    val cases = Seq(
      ("sub", "abcdef", "abXdef"), // substitution
      ("ins", "abcdef", "abcdefg"), // insertion at the end
      ("insm", "abdef", "abcdef"), // insertion in the middle
      ("del", "abcdef", "bcdef"), // deletion
      ("eq", "abcdef", "abcdef"), // identical
      // non-ASCII: one CHAR substitution/insertion of a multi-byte code
      // point — byte-level deletions would never produce the shared
      // variant ("caf" is café minus a 2-byte char), so these pin that
      // the neighborhood iterates code points
      ("sub8", "café", "cafe"), // é (2 bytes) substituted by e
      ("ins8", "naïve", "nave"), // ï deleted
      ("far", "abcdef", "xyzuvw")) // unrelated
    val got = cases.map { case (k, a, b) => (k, a, b) }.toDF("k", "a", "b")
      .select($"k",
        deletion_variant_hashes($"a").as("va"),
        deletion_variant_hashes($"b").as("vb"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    Seq("sub", "ins", "insm", "del", "eq", "sub8", "ins8").foreach { k =>
      val (va, vb) = got(k)
      assert(va.toSet.intersect(vb.toSet).nonEmpty, s"$k: no shared variant hash")
    }
    assert(got("far")._1.toSet.intersect(got("far")._2.toSet).isEmpty)
    got.values.foreach { case (va, vb) =>
      Seq(va, vb).foreach(v => assert(v == v.sorted && v.distinct.size == v.size))
    }
    // |variants| ≤ len + 1 (identity + one per deleted char, deduped)
    assert(got("eq")._1.size <= 7)
    org.apache.spark.sql.graft.functions.registerAll(spark)
    val viaSql = spark.sql("SELECT deletion_variant_hashes('abcdef')").head().getSeq[Long](0)
    assert(viaSql === got("eq")._1)
  }

  test("pcm_i16le_stats: sign extension, -32768, odd trailing byte, empty payload, SQL") {
    val rows = Seq(
      ("min16", Array[Byte](0x00, 0x80.toByte)), // 0x8000 → -32768 (sign extension)
      ("max16", Array[Byte](0xff.toByte, 0x7f)), // 0x7fff → 32767
      // samples 1, -1, 2 → two sign changes
      ("cross", Array[Byte](1, 0, 0xff.toByte, 0xff.toByte, 2, 0)),
      ("odd", Array[Byte](1, 0, 5)), // trailing byte ignored → one sample
      ("empty", Array.empty[Byte]))
    val got = rows.toDF("k", "pcm")
      .select($"k", pcm_i16le_stats($"pcm").as("st"))
      .select($"k", $"st.n_samples", $"st.sum_abs", $"st.max_abs", $"st.zero_crossings")
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4))).toMap
    assert(got("min16") === ((1, 32768L, 32768, 0)),
      "0x8000 must sign-extend to -32768, not read as +32768... with abs 32768")
    assert(got("max16") === ((1, 32767L, 32767, 0)))
    assert(got("cross") === ((3, 4L, 2, 2)))
    assert(got("odd") === ((1, 1L, 1, 0)))
    assert(got("empty") === ((0, 0L, 0, 0)))
    org.apache.spark.sql.graft.functions.registerAll(spark)
    assert(spark.sql("SELECT pcm_i16le_stats(CAST('' AS BINARY)).n_samples")
      .head().getInt(0) === 0)
  }

  test("nearest_pivots ≡ the literal-pivot projection at nlist 1024 — " +
      "the >LiteralPivotMax path is bit-identical AND plan-bounded") {
    // the scale story of the IVF family rests on this equivalence: past
    // LiteralPivotMax the literal per-pivot structs (O(nlist·dim)
    // expressions — the plan itself becomes the bottleneck) swap for ONE
    // reference-object expression. Drive nlist = 1024 (4× past the
    // switch) through both and require identical ids in identical order.
    val dim = 8
    val nlist = 1024
    val k = 4
    val pivots: Seq[Seq[Float]] = (0 until nlist).map { i =>
      (0 until dim).map(j => ((i * 31 + j * 7) % 97 - 48) / 48.0f)
    }
    val vecs = (0L until 200L).map { v =>
      (v, (0 until dim).map(j => ((v * 13 + j * 17) % 101 - 50) / 50.0f).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // literal path, re-derived independently of SimilarityQueries: array
    // of (sim, -pivot) structs, sorted desc, top-k (pivot, sim) pairs
    val literalScores = array(pivots.zipWithIndex.map { case (p, i) =>
      struct(vec_cosine($"embedding", typedLit(p)).as("sim"), lit(-i).as("negp"))
    }: _*)
    val topLit = slice(sort_array(literalScores, asc = false), 1, k)
    val lit1024 = df.select($"vec_id",
      transform(topLit, p => -p.getField("negp")).as("top"),
      transform(topLit, p => p.getField("sim")).as("sims"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Double](2)))).toMap
    val native = df.select($"vec_id",
      transform(nearest_pivots($"embedding", pivots.flatten.toArray, dim, k),
        p => p.getField("pivot")).as("top"),
      transform(nearest_pivots($"embedding", pivots.flatten.toArray, dim, k),
        p => p.getField("sim")).as("sims"))
    val nat = native.collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Double](2)))).toMap
    assert(nat.view.mapValues(_._1).toMap === lit1024.view.mapValues(_._1).toMap,
      "native top-k pivot ids must equal the literal path's")
    assert(nat === lit1024,
      "native sims must be BIT-identical to the literal path's (same accumulation order)")
    // the whole point: the native plan stays O(1) expressions while the
    // literal plan carries O(nlist·dim) of them
    def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.expressions.map(_.collect { case e => e }.size).sum
    assert(exprNodes(native) < 200,
      s"native pivot plan must stay tiny, got ${exprNodes(native)} expression nodes")
    // and k=1 (the assignment case) agrees too
    val a1 = df.select($"vec_id",
      element_at(nearest_pivots($"embedding", pivots.flatten.toArray, dim, 1), 1)
        .getField("pivot").as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 === lit1024.map { case (id, (top, _)) => id -> top.head })
  }

  test("int8_quantize / int8_vec_dot: round-half-up codes, ±127 clamp, " +
      "zero-scale guard, exact integer dots, SQL registration") {
    import org.apache.spark.sql.graft.functions.{int8_quantize, int8_vec_dot}
    val scales = Array(2.0f, 1.0f, 0.0f, 0.5f)
    val df = Seq(
      (1L, Seq(1.0f, 0.5f, 3.0f, -0.25f)),   // mid-range + zero-scale dim
      (2L, Seq(2.0f, -1.0f, 9.9f, 0.5f)),    // exact scale hits ±127
      (3L, Seq(5.0f, -9.0f, 0.0f, 1.0f))     // out-of-range clamps
    ).toDF("id", "v")
      .select($"id", int8_quantize(array($"v"(0), $"v"(1), $"v"(2), $"v"(3))
        .cast("array<float>"), scales).as("code"))
    val codes = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // q = clamp(floor(x·127/s + 0.5)): 1.0/2 → 64 (63.5 + .5 rounds up),
    // 0.5/1 → 64, zero scale → 0, −0.25/0.5 → −63 (−63.5+.5 = −63 exact)
    assert(codes(1).toSeq === Seq[Byte](64, 64, 0, -63))
    assert(codes(2).toSeq === Seq[Byte](127, -127, 0, 127))
    assert(codes(3).toSeq === Seq[Byte](127, -127, 0, 127), "clamp binds")
    // exact integer dot: 64·127 + 64·(−127) + 0 + (−63)·127
    val dot = df.filter($"id" === 1).crossJoin(
        df.filter($"id" === 2).select($"code".as("code2")))
      .select(int8_vec_dot($"code", $"code2")).head().getLong(0)
    assert(dot === 64L * 127 + 64L * -127 + 0 + -63L * 127)
    // SQL registration (the dot only — quantize carries a trained table)
    org.apache.spark.sql.graft.functions.registerAll(spark)
    assert(spark.sql(
      "SELECT int8_vec_dot(CAST('ab' AS BINARY), CAST('ba' AS BINARY))")
      .head().getLong(0) === 97L * 98 * 2)
    // dimension mismatch fails loudly, not silently
    val err = intercept[Throwable] {
      df.filter($"id" === 1)
        .select(int8_vec_dot($"code", lit(Array[Byte](1, 2)))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("lengths differ")), msgs(err).mkString(" | "))
  }

  test("zorder_key: matches the per-bit interleave reference over mixed int/long input") {
    val df = spark.range(2000).select(
      (col("id") * 2654435761L % 100003).cast("int").as("x"),
      (col("id") * 40503 % 65543).as("y")) // y stays LONG — widening path
      .select(col("x"), col("y"), zorder_key(col("x"), col("y"), 16).as("z"))
    df.collect().foreach { r =>
      val (x, y, z) = (r.getInt(0).toLong, r.getLong(1), r.getLong(2))
      var ref = 0L
      var i = 0
      while (i < 16) {
        ref |= ((x >> i) & 1L) << (2 * i)
        ref |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      assert(z === ref, s"x=$x y=$y")
      assert(z >= 0L, "key must stay non-negative (fits in 2·bits bits)")
    }
  }

  test("zorder_key: monotone per coordinate, SQL-registered, null-safe, type-checked") {
    // fixing y, increasing x must increase the key (zone-map usefulness)
    val keys = (0 until 64).map(x =>
      org.apache.spark.sql.graft.ZOrderOps.interleave2(x, 7, 16))
    assert(keys == keys.sorted && keys.distinct.size == keys.size)
    org.apache.spark.sql.graft.functions.registerAll(spark)
    // 5=101b → even bits 10001b=17; 3=011b → odd bits 1010b=10
    assert(spark.sql("SELECT zorder_key(5, 3)").head().getLong(0) === 27L)
    assert(spark.sql("SELECT zorder_key(5, 3, 2)").head().getLong(0) === 11L,
      "bits=2 masks x's third bit")
    val n = Seq((Some(1), None: Option[Int])).toDF("x", "y")
      .select(zorder_key($"x", $"y").as("z")).head()
    assert(n.isNullAt(0), "null coordinate -> null key")
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a", 1)).toDF("x", "y").select(zorder_key($"x", $"y")).collect()
    }
    assert(bad.getMessage.contains("integral"))
  }

  test("VecOps/LongVecOps typed arms are BIT-identical to the generic arm " +
    "for every ArrayData receiver combination") {
    // The r15 receiver devirtualization (see VecOps' scaladoc) duplicates
    // each kernel loop into a statically-typed UnsafeArrayData arm and a
    // generic fallback. The oracle's hash-exactness rests on the two arms
    // producing the same BITS for the same values, whatever concrete
    // ArrayData subclass delivers them — pin that here by driving the
    // public entry points with Unsafe, Generic and Columnar receivers in
    // every pairing. Values include NaN/extreme floats so "same bits"
    // is tested where IEEE accumulation could plausibly diverge.
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.graft.{LongVecOps, VecOps}
    import org.apache.spark.sql.types.{FloatType, LongType}
    import org.apache.spark.sql.vectorized.ColumnarArray

    val fl = Array(1.5f, -2.25f, 3.4e38f, 1.1754944e-38f, 0.0f, -0.0f, 42.0f, -7.125f)
    val fr = Array(-0.5f, 8.0f, 2.0e-38f, 3.0e38f, -1.0f, 5.5f, 0.25f, 9.75f)
    val ll = Array(3L, -4L, Long.MaxValue / 1048576, 0L, 17L, -99L, 1L << 40, 5L)
    val lr = Array(-7L, 11L, 1048575L, 123L, -1L, 2L, 3L, -8L)

    def uF(a: Array[Float]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)
    def gF(a: Array[Float]): ArrayData = new GenericArrayData(a)
    def cF(a: Array[Float]): ArrayData = {
      val v = new OnHeapColumnVector(a.length, FloatType)
      a.indices.foreach(i => v.putFloat(i, a(i)))
      new ColumnarArray(v, 0, a.length)
    }
    def uL(a: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)
    def gL(a: Array[Long]): ArrayData = new GenericArrayData(a)
    def cL(a: Array[Long]): ArrayData = {
      val v = new OnHeapColumnVector(a.length, LongType)
      a.indices.foreach(i => v.putLong(i, a(i)))
      new ColumnarArray(v, 0, a.length)
    }

    val fMk = Seq[Array[Float] => ArrayData](uF, gF, cF)
    val lMk = Seq[Array[Long] => ArrayData](uL, gL, cL)
    val cosRef = VecOps.cosine(gF(fl), gF(fr))
    val dotRef = VecOps.dot(gF(fl), gF(fr))
    val normRef = VecOps.norm(gF(fl))
    val ldotRef = LongVecOps.dot(gL(ll), gL(lr))
    for (ma <- fMk; mb <- fMk) {
      assert(java.lang.Double.doubleToRawLongBits(VecOps.cosine(ma(fl), mb(fr)))
        === java.lang.Double.doubleToRawLongBits(cosRef))
      assert(java.lang.Double.doubleToRawLongBits(VecOps.dot(ma(fl), mb(fr)))
        === java.lang.Double.doubleToRawLongBits(dotRef))
      assert(java.lang.Double.doubleToRawLongBits(VecOps.norm(ma(fl)))
        === java.lang.Double.doubleToRawLongBits(normRef))
    }
    for (ma <- lMk; mb <- lMk) {
      assert(LongVecOps.dot(ma(ll), mb(lr)) === ldotRef)
    }
    // dimension mismatch still rejected on every arm's dispatcher
    intercept[IllegalArgumentException](VecOps.dot(uF(fl), uF(fr.take(3))))
    intercept[IllegalArgumentException](LongVecOps.dot(uL(ll), gL(lr.take(2))))
  }

  test("top_k_pair ≡ top_k_struct on adversarial doubles (±0.0, NaN, ties, " +
      "dups) across partitions, both modes — the r16 kernel-swap contract") {
    // topKPerQuery swapped its per-group state from TopKStruct's
    // PriorityQueue-of-UnsafeRows to TopKPair's flat primitive arrays
    // (the s11 CPI-fragility fix). The swap is only sound if the two
    // aggregates are VALUE-identical on every input the ordering could
    // treat subtly: 0.0 vs -0.0 (ordering-equal, byte-distinct), NaN
    // (greatest, all bit patterns equal), exact (score, id) duplicates,
    // groups smaller than k, and multi-partition partial/merge/serialize
    // paths. Seeded random bulk data widens the net.
    val rnd = new scala.util.Random(20260816L)
    val adversarial = Seq(
      (1L, 0.0, 10L), (1L, -0.0, 11L), (1L, Double.NaN, 12L),
      (1L, 1.0, 13L), (1L, 1.0, 13L),               // exact dup (kept twice unless distinct)
      (1L, 1.0, 14L), (1L, -1.0, 15L), (1L, Double.MinPositiveValue, 16L),
      (2L, 5.0, 20L),                                // group smaller than k
      (3L, Double.NaN, 30L), (3L, Double.NaN, 30L),  // NaN dup, same id
      (3L, Double.PositiveInfinity, 31L), (3L, Double.NegativeInfinity, 32L))
    val bulk = (0 until 2000).map { _ =>
      (rnd.nextInt(40).toLong + 10L, (rnd.nextInt(8) - 4).toDouble / 2.0,
        rnd.nextInt(50).toLong)
    }
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(adversarial ++ bulk, 13))
      .toDF("g", "score", "id")
    for (k <- Seq(1, 3, 5); distinct <- Seq(false, true)) {
      val neg = ($"score" * -1).as("s")
      val viaStruct = df.groupBy("g")
        .agg((if (distinct) top_k_struct_distinct(struct(neg, $"id"), k)
          else top_k_struct(struct(neg, $"id"), k)).as("top"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
        .toMap
      val viaPair = df.groupBy("g")
        .agg((if (distinct) top_k_pair_distinct($"score" * -1, $"id", k)
          else top_k_pair($"score" * -1, $"id", k)).as("top"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
        .toMap
      assert(viaPair.keySet === viaStruct.keySet)
      viaStruct.foreach { case (g, expected) =>
        // compare as (bits, id) so NaN compares equal and ±0.0 stays
        // distinguishable — except entries that are ordering-equal yet
        // byte-distinct (same id, ==-equal scores), where BOTH kernels'
        // kept-bit-pattern is heap/insert-order luck: canonicalize those
        // by ordering-equality class
        def canon(xs: Seq[(Double, Long)]) = xs.map { case (s, i) =>
          (if (s == 0.0) 0L else java.lang.Double.doubleToLongBits(s), i) }
        assert(canon(viaPair(g)) === canon(expected),
          s"group $g k=$k distinct=$distinct")
      }
    }
    // the EVAL-FALLBACK path (arbitrary expression shapes the bound fast
    // path does not match) must be value-identical too: an unfoldable
    // composite negation forces it, compared against the struct kernel
    // on the same data
    {
      val df2 = spark.createDataFrame(
          spark.sparkContext.parallelize(adversarial ++ bulk.take(400), 7))
        .toDF("g", "score", "id").withColumn("zero", lit(0.0) * col("id"))
      val fallbackNeg = (col("score") + col("zero")) * -1
      val viaStruct = df2.groupBy("g")
        .agg(top_k_struct(struct(fallbackNeg.as("s"), $"id"), 3).as("top"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
        .toMap
      val viaPair = df2.groupBy("g")
        .agg(top_k_pair(fallbackNeg, $"id", 3).as("top"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
        .toMap
      def canon(xs: Seq[(Double, Long)]) = xs.map { case (s, i) =>
        (if (s == 0.0) 0L else java.lang.Double.doubleToLongBits(s), i) }
      assert(viaPair.keySet === viaStruct.keySet)
      viaStruct.foreach { case (g, expected) =>
        assert(canon(viaPair(g)) === canon(expected), s"fallback path, group $g")
      }
    }
    // SQL registration parity for the new names
    org.apache.spark.sql.graft.functions.registerAll(spark)
    df.createOrReplaceTempView("tkp_in")
    val sql = spark.sql(
      "SELECT g, top_k_pair(-score, id, 2) FROM tkp_in GROUP BY g")
    assert(sql.count() === df.select("g").distinct().count())
    // type misuse fails analysis, not execution
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT top_k_pair(id, id, 2) FROM tkp_in").collect()
    }
    assert(err.getMessage.toLowerCase.contains("double")
      || err.getMessage.contains("DOUBLE"))
  }

  test("top_k_struct direct-projection fast path ≡ eval fallback (null fields, " +
      "strings, multi-partition) — the r18 allocation-fix contract") {
    // r18 swapped TopKStruct's update from child.eval (CreateNamedStruct
    // allocates a GenericInternalRow + boxed primitives PER INPUT ROW)
    // to a codegen'd UnsafeProjection over the struct's value
    // expressions. The swap is only sound if the two paths are
    // VALUE-identical on everything the old path could see: null FIELDS
    // (a struct of null fields is non-null — both paths must KEEP the
    // row, ranked nulls-first), var-length string fields (t08's shape),
    // groups smaller than k, and the partial/merge/serialize paths. The
    // eval fallback is forced with a data-dependent CaseWhen child —
    // same field values, but not a CreateNamedStruct node, so
    // `directProj` stays null there.
    val rnd = new scala.util.Random(18L)
    val rows = Seq(
      (1L, Some(3L), 7L, "alpha"), (1L, None, 5L, "beta"),   // null tf field
      (1L, Some(3L), 7L, "alpha"),                           // exact dup
      (2L, Some(1L), 1L, ""),                                // empty string
      (3L, None, 0L, "z")) ++
      (0 until 3000).map { _ =>
        (rnd.nextInt(60).toLong,
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(6).toLong),
          rnd.nextInt(9).toLong, "t" + rnd.nextInt(20))
      }
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 11))
      .toDF("g", "neg_tf", "df", "term")
    def asMap(res: Array[org.apache.spark.sql.Row]) = res.map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map { x =>
        (Option(x.get(0)), x.getLong(1), x.getString(2))
      }
    }.toMap
    for (k <- Seq(1, 3, 7); distinct <- Seq(false, true)) {
      val agg: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => if (distinct) top_k_struct_distinct(c, k) else top_k_struct(c, k)
      val fast = asMap(df.groupBy("g")
        .agg(agg(struct($"neg_tf", $"df", $"term")).as("top")).collect())
      // CaseWhen over a non-foldable predicate survives optimization, so
      // the aggregate's child is NOT a CreateNamedStruct → eval path
      val slow = asMap(df.groupBy("g")
        .agg(agg(when($"df" >= 0, struct($"neg_tf", $"df", $"term"))
          .otherwise(struct($"neg_tf", $"df", $"term"))).as("top")).collect())
      assert(fast.keySet === slow.keySet, s"k=$k distinct=$distinct")
      fast.foreach { case (g, xs) =>
        assert(xs === slow(g), s"group $g k=$k distinct=$distinct")
      }
      // null fields rank FIRST under the natural struct ordering — pin
      // the semantics the scaladoc promises (group 3's only row is
      // (null, 0, "z"), group 1 has a null-tf row that must win rank 1)
      if (k >= 3 && !distinct) {
        assert(fast(1L).head._1.isEmpty, "null field must sort first")
      }
    }
  }

  test("sorted_intersect_count ≡ size(array_intersect) on sorted distinct arrays; " +
      "SQL-registered, null-safe, type-checked") {
    // randomized equivalence on the contract domain (ascending distinct),
    // plus the edges: empty, disjoint, identical, single-element, and
    // boundary-heavy overlaps. Seeded — deterministic across runs.
    val rnd = new scala.util.Random(4217)
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(5L), Seq(5L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue),
        Seq(Long.MinValue, 0L, Long.MaxValue))) ++
      Seq.fill(40) {
        def arr() = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong)
          .distinct.sorted
        (arr(), arr())
      }
    val df = cases.toDF("a", "b")
    val got = df.select(
        sorted_intersect_count($"a", $"b").as("fast"),
        size(array_intersect($"a", $"b")).as("ref"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    got.zip(cases).foreach { case ((fast, ref), (a, b)) =>
      assert(fast === ref, s"a=$a b=$b")
    }
    // SQL registration + null-safety (BinaryExpression null-in-null-out:
    // a null ARRAY yields null — distinct from a null ELEMENT, below)
    org.apache.spark.sql.graft.functions.registerAll(spark)
    assert(spark.sql("SELECT sorted_intersect_count(array(1L,2L,3L), array(2L,3L,9L))")
      .head.getInt(0) === 2)
    val nullArr = lit(null).cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))
    assert(df.select(sorted_intersect_count(nullArr, $"b")).head.isNullAt(0))
    // type misuse fails analysis
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sorted_intersect_count(array('x'), array('x'))").collect()
    }
    assert(err.getMessage.contains("ARRAY<BIGINT>"))
    // containsNull arrays fail ANALYSIS, not execution (r17 advice): a
    // null slot would be getLong-read as garbage AND break the
    // sortedness precondition (array_sort ranks nulls last) — silently
    // diverging from size(array_intersect). SQL's ARRAY<BIGINT> cast
    // types as containsNull = true, so this pins exactly the exposed
    // external surface.
    val errNull = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sorted_intersect_count(CAST(array(1L) AS ARRAY<BIGINT>), " +
        "CAST(array(1L) AS ARRAY<BIGINT>))").collect()
    }
    assert(errNull.getMessage.contains("containsNull"))
    // and the documented escape hatch analyzes: array_compact narrows
    // the element type back to non-null
    assert(spark.sql("SELECT sorted_intersect_count(" +
      "array_compact(CAST(array(1L,2L) AS ARRAY<BIGINT>)), " +
      "array_compact(CAST(array(2L,5L) AS ARRAY<BIGINT>)))").head.getInt(0) === 1)
  }

  test("known_elements_not_null: zero-cost schema narrowing for trusted " +
      "null-free arrays (r18 advice — the assumeDistinct contract's escape)") {
    import org.apache.spark.sql.graft.functions.{known_elements_not_null, sorted_intersect_count}
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // Option-encoded input: SCHEMA says containsNull=true, values are
    // null-free (the trusted-caller shape)
    val df = Seq(
      (Seq[Option[Long]](Some(1L), Some(2L), Some(3L)),
        Seq[Option[Long]](Some(2L), Some(3L), Some(9L)))).toDF("a", "b")
    assert(df.schema("a").dataType.asInstanceOf[ArrayType].containsNull)
    val narrowed = df.select(known_elements_not_null($"a").as("a"),
      known_elements_not_null($"b").as("b"))
    // the TYPE narrows; the VALUES pass through identically (codegen path)
    assert(!narrowed.schema("a").dataType.asInstanceOf[ArrayType].containsNull)
    assert(narrowed.select($"a").head.getSeq[Long](0) === Seq(1L, 2L, 3L))
    // and the narrowed column analyzes against the r18 containsNull
    // rejection where the raw column would not
    assert(narrowed.select(sorted_intersect_count($"a", $"b")).head.getInt(0) === 2)
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(sorted_intersect_count($"a", $"b")).collect()
    }
    // a NULL top-level array stays null (UnaryExpression null-in-null-out)
    val nullArr = lit(null).cast(ArrayType(LongType, containsNull = true))
    assert(df.select(known_elements_not_null(nullArr)).head.isNullAt(0))
    // non-array input fails analysis
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(known_elements_not_null(lit(1L))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  test("gopher_repetition_stats ≡ a string-domain reference (edge cases: " +
    "empty, <2/<5 tokens, overlapping duplicated 5-grams, multi-space, unicode)") {
    // string-domain reference: grams are literal strings, counts by group,
    // cov5 by explicit position-set union — exactly the relational
    // formulation t17 shipped through r20 (the kernel's hash-domain
    // grouping must agree on every case, including the overlap-union one)
    def ref(text: String): (Int, Long, Long, Long) = {
      val tk = text.split(" ", -1).filter(_.nonEmpty).toSeq
      val m = tk.length
      def cp(s: String): Long = s.codePointCount(0, s.length).toLong
      val tokChars = tk.map(cp).sum
      val top2 = if (m < 2) 0L else {
        val gs = (0 until m - 1).map(i => tk(i) + " " + tk(i + 1))
        gs.groupBy(identity).values.map(g => g.size.toLong * (cp(g.head) - 1)).max
      }
      val cov5 = if (m < 5) 0L else {
        val gs = (0 until m - 4).map(i => tk.slice(i, i + 5).mkString(" "))
        val counts = gs.groupBy(identity).map { case (g, o) => g -> o.size }
        (1 to m - 4).filter(p => counts(gs(p - 1)) >= 2)
          .flatMap(p => p to p + 4).distinct.size.toLong
      }
      (m, tokChars, top2, cov5)
    }
    val cases = Seq(
      "",                                   // no tokens
      "one",                                // m = 1
      "a b c d",                            // m < 5: top2 only
      "x x x x x x",                        // one gram repeated: dense overlap
      "a b c d e f a b c d e f",            // duplicated 5-grams, overlapping spans
      "p q r s t u v p q r s t",            // duplicate at both ends
      "  double   spaces  collapse ",       // empty-token filtering
      "héllo wörld héllo wörld héllo wörld",// multi-byte code points
      "loop alpha beta gamma delta loop alpha beta gamma delta loop alpha beta gamma delta",
      "ab c d e f g a bc d e f g")          // token-boundary distinction: "ab c" ≠ "a bc"
    val got = cases.toDF("t")
      .select(gopher_repetition_stats($"t").as("st"))
      .select($"st.n_tokens", $"st.tok_chars", $"st.top2_chars", $"st.cov5")
      .collect()
    cases.zip(got).foreach { case (text, row) =>
      val (m, tc, t2, c5) = ref(text)
      assert((row.getInt(0), row.getLong(1), row.getLong(2), row.getLong(3)) ===
        ((m, tc, t2, c5)), s"mismatch on '$text'")
    }
    // null-in-null-out and SQL registration
    assert(Seq[Option[String]](None).toDF("t")
      .select(gopher_repetition_stats($"t")).head.isNullAt(0))
    org.apache.spark.sql.graft.functions.registerAll(spark)
    assert(spark.sql("SELECT gopher_repetition_stats('a b a b').top2_chars AS v")
      .head.getLong(0) === 4L) // "a b" twice: 2 · (len("a b") − 1) = 2 · 2
  }

  test("dup_span_rewrite ≡ a string-domain reference (first occurrence survives, " +
    "overlapping spans, whitespace collapse, short docs)") {
    def ref(text: String, n: Int): (Int, Int, String) = {
      val tk = text.split(" ", -1).filter(_.nonEmpty).toSeq
      val m = tk.length
      val gs = (0 until math.max(m - n + 1, 0)).map(i => tk.slice(i, i + n).mkString(" "))
      // p 1-based; repeat iff an earlier index holds the same gram string
      val rm = (1 to gs.length).filter(p => gs.indexOf(gs(p - 1)) + 1 < p)
        .flatMap(p => p until p + n).distinct
      val clean = tk.zipWithIndex.collect { case (t, i) if !rm.contains(i + 1) => t }
      (m, rm.size, clean.mkString(" "))
    }
    val cases = Seq(
      "",
      "a b c d",                                        // < n tokens
      "x x x x x x x",                                  // dense self-overlap
      "a b c d e f a b c d e f",                        // clean duplicate
      "p q r s t u p q r s t u p q r s t u",            // triple occurrence
      "  spaced   out  tokens a b c d e a b c d e ",
      "one two three four five six seven eight nine")   // no repeats
    val got = cases.toDF("t")
      .select(dup_span_rewrite($"t", 5).as("st"))
      .select($"st.n_tokens", $"st.n_removed", $"st.clean_text")
      .collect()
    cases.zip(got).foreach { case (text, row) =>
      val (m, nr, clean) = ref(text, 5)
      assert((row.getInt(0), row.getInt(1), row.getString(2)) === ((m, nr, clean)),
        s"mismatch on '$text'")
    }
    assert(Seq[Option[String]](None).toDF("t")
      .select(dup_span_rewrite($"t")).head.isNullAt(0))
  }

  test("count_sketch_pairs is BIT-identical to the md5-hex bucket/sign column " +
    "pipeline for every hash row (negative, zero, large keys)") {
    import graft.queries.CountSketch
    val keys = Seq(-987654321098L, -1L, 0L, 1L, 42L, 2500L, 999999999L, Long.MaxValue)
    val df = keys.toDF("k")
    val bgCols = Seq($"k") ++ (0 until CountSketch.Rows).flatMap(i =>
      Seq(CountSketch.bucket($"k", i).as(s"b$i"),
        CountSketch.sign($"k", i).cast("long").as(s"g$i")))
    val viaColumns = df.select(bgCols: _*)
      .collect().map(r => r.getLong(0) -> (1 to 2 * CountSketch.Rows).map(r.getLong).toSeq).toMap
    val viaKernel = df.select($"k", CountSketch.pairs($"k").as("p")).collect().map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .flatMap(s => Seq(s.getLong(0), s.getLong(1)))
    }.toMap
    keys.foreach { k =>
      assert(viaKernel(k) === viaColumns(k), s"hash family drift for key $k")
    }
  }
}
