package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointUtils.SummarizedCheckpointOps

/** Deduplication operators over the `documents` table: exact, normalized,
  * MinHash+LSH near-dup, SimHash near-dup, and exact n-gram Jaccard.
  *
  * Scale design (the point is 100 TB, not 60k rows):
  *   - exact/normalized dedup groups on md5(text), never on the raw text —
  *     the shuffle key is 32 bytes regardless of document size;
  *   - MinHash signatures and SimHash values are computed as pure
  *     projections with higher-order array functions (no UDF, no shuffle);
  *     candidate generation shuffles only (band_id, band_hash, doc_id)
  *     tuples — documents themselves are never shuffled;
  *   - the per-bucket self-join is an equi-join on the band hash, so
  *     Catalyst plans a shuffled hash/sort-merge join keyed on small
  *     fixed-width keys; skew (a degenerate bucket) is bounded by capping
  *     bucket size before pairing;
  *   - all hashing is xxhash64 with fixed seeds → bit-deterministic on any
  *     cluster layout.
  */
object DedupQueries {
  import QueryDsl._

  import org.apache.spark.sql.graft.functions.{token_shingle_hashes, minhash_signature, simhash_md5}

  private val NumPerm = 32

  /** Session-scoped registry of the persisted intermediates this object
    * shares across queries (shingle/signature/sketch/pair tables). Each is
    * built and persisted ONCE per (session, dir) and every consumer gets
    * the SAME DataFrame instance — reuse no longer rides on CacheManager
    * matching independently-built plans by canonicalization — and
    * [[releaseShared]] unpins them all (Verify/Bench call it; a long-lived
    * session would call it between pipeline runs). Keyed on the session
    * OBJECT (identity equality), not its hash — identityHashCode is not
    * unique, and a collision would hand one session another's plans. */
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** CONTRACT: `build` must not (transitively) call back into sharedDf —
    * ConcurrentHashMap.computeIfAbsent forbids recursive updates of the
    * same map (IllegalStateException when the keys share a bin). Builders
    * that depend on another shared table resolve it BEFORE calling this. */
  private def sharedDf(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    shared.computeIfAbsent((s, key), _ => build.persist())

  /** Force-build (and persist) the dedup family's core shared
    * intermediates — shingle sets, MinHash signatures, and the
    * exact-Jaccard pair table — so a bench pass can time the build ONCE
    * as its own line and every family entry then measures MARGINAL cost
    * uniformly. Before this, whichever family member happened to run
    * first paid the build, and round-over-round heavy compares of the
    * others were apples-to-oranges (r9 verdict: d08 3.5 s → 0.12 s was
    * cache placement, not a 29× speedup). */
  def prewarmShared(s: SparkSession, dir: String, withPairs: Boolean = true,
      withSigs: Boolean = true): Unit = {
    // sigs only when a signature consumer is in scope (r11 advice: a
    // focused shingle-only run — e.g. SPARK_GRAFT_ONLY=d22 — was paying
    // an unused 32-perm signature build inside the dshared_build line)
    if (withSigs) sigTable(s, dir).count() // builds + pins shingles, then sigs
    else shingleTable(s, dir).count()      // shingles alone
    if (withPairs) exactJaccardPairs(s, dir).count() // + the pair table
  }

  /** Inventory entries that consume [[prewarmShared]]'s artifacts —
    * maintained HERE, next to the builders, so the bench's prewarm scope
    * cannot drift from the actual consumer set (p01/p03 build their own
    * tables in TextQueries and must NOT trigger a prewarm; a focused
    * `SPARK_GRAFT_ONLY=d16` run must not pay three unused pair-table
    * builds either). Pair consumers transitively pin shingles too. */
  val SharedPairConsumers: Set[String] = Set(
    "d08_jaccard_exact_join", "d09_dup_components", "d11_dedup_pipeline",
    "d13_leakage_free_split", "d21_cc_alternating", "d23_dup_kcore",
    "d24_detector_consensus", "d25_dup_telemetry")
  val SharedShingleConsumers: Set[String] = SharedPairConsumers ++ Set(
    "d03_minhash_lsh", "d05_ngram_jaccard", "d10_decontaminate",
    "d12_bloom_incremental", "d14_containment", "d19_incremental_lsh",
    "d22_prefix_filter_join")

  /** The subset that consumes the 32-perm MinHash signature table
    * ([[sigTable]]) — the LSH banders. Everything else in
    * [[SharedShingleConsumers]] reads only the shingle table, so a
    * focused run without a bander skips the signature build entirely
    * (prewarmShared(withSigs = false)). */
  val SharedSigConsumers: Set[String] = Set(
    "d03_minhash_lsh", "d05_ngram_jaccard", "d19_incremental_lsh")

  /** Consumers of the two remaining BUILD-ONCE artifacts this object owns
    * whose construction cost is pass-asymmetric — maintained here, next to
    * the builders, for the same no-drift reason as [[SharedPairConsumers]].
    * The bench's shared_build line force-builds the in-scope ones before
    * the timed passes (r14 verdict: d15's records_read flipped 2064 → 6067
    * depending on which pass won the min, because the FIRST pass trains the
    * cross-pass-memoized [[SimilarityQueries.ivfPivots]] inside d15's
    * sharedDf build and later passes don't — a per-entry counter is only an
    * invariant when every pass does the same marginal work). The other
    * single-consumer sharedDf keys (d04's simhash, d07's srp, d18's tfv)
    * need no build line: their builders depend on NO cross-pass memo, so
    * every pass rebuilds them identically and the counters are already
    * pass-invariant. */
  val SemdedupConsumers: Set[String] = Set("d15_semdedup")
  val LshIndexConsumers: Set[String] = Set("d19_incremental_lsh")

  /** Force-build d15's persisted cluster-assignment table (and, on the
    * first call per corpus, the IVF quantizer training it rides on) under
    * the SAME registry key and build plan as the d15 entry, so every
    * bench pass measures d15's within-cluster self-join marginally. */
  def prewarmSemdedup(s: SparkSession, dir: String): Unit = {
    // resolve BEFORE entering the registry (the sharedDf contract): this
    // trains ivfPivots and materializes spread()'s partition probe
    val assignedPlan = SimilarityQueries.semdedupAssigned(s, dir, spreadScan = true)
    sharedDf(s, s"semdedup_assigned|$dir")(assignedPlan).count()
    ()
  }

  /** Force-build d19's persisted band index (cross-pass memoized path —
    * built once per (session, corpus), like the ANN index layouts). */
  def prewarmLshIndex(s: SparkSession, dir: String): Unit = {
    lshIndexPath(s, dir, IncrementalLshBoundary)
    ()
  }

  /** The standing-corpus/ingest-batch split d19 (and its prewarm) key the
    * build-once band index on — ONE definition so the prewarmed index is
    * always the index the entry probes ([[lshIndexPath]] memoizes on
    * (session, dir) only). */
  private[graft] val IncrementalLshBoundary = 400L

  /** Unpersist and forget every shared intermediate. The next consumer
    * rebuilds (and re-persists) from scratch. */
  def releaseShared(): Unit = {
    shared.values.forEach(df => { df.unpersist(); () })
    shared.clear()
    sharedBlooms.clear()
  }

  /** doc_id + sorted distinct shingle-HASH set, materialized once — both LSH
    * banding and Jaccard verification reuse it (at 100 TB this is the
    * "signature table" you would checkpoint rather than recompute per
    * consumer). A native Catalyst kernel (`token_shingle_hashes`, see
    * [[org.apache.spark.sql.graft.ShingleOps]]) hashes 3-token shingles to int64 in one
    * codegen'd pass, so downstream set-intersections are long-compares and
    * the shuffled payload is fixed-width. */
  private def shingleTable(s: SparkSession, dir: String): DataFrame =
    sharedDf(s, s"shingles|$dir") {
      // MEASURED NEGATIVE (r12 stage probe, heavy dir): spread()ing this
      // scan so the cache (and every consumer stage) runs t=32 instead of
      // the scan's t=10 made the consumers WORSE, not better — d03 steady
      // wall 1.92 → 2.73 s, d14 1.98 → 2.76 s, with consumer-stage CPU up
      // ~60% (12.3 → 19.6 s on d03's rep) — the added exchange, 3× smaller
      // cached blocks, and extra GC outweigh the parallelism on the
      // band/verify paths (the q89 class). Reverted; keep the plain scan
      // layout. (d15's assignment pass is the opposite case — one dominant
      // compute-bound projection — and keeps its spread, see d15.)
      tbl(s, dir, "documents")
        .select(col("doc_id"), token_shingle_hashes(col("text"), 3).as("sh"))
    }

  /** doc_id + 32-perm MinHash signature (native expression, one tight loop
    * per row), computed once and shared by every LSH consumer (different
    * band layouts slice the same cached signature). */
  private def sigTable(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleTable(s, dir) // resolve BEFORE entering the registry (see sharedDf)
    sharedDf(s, s"sigs|$dir") {
      sh.select(col("doc_id"), minhash_signature(col("sh"), NumPerm).as("sig"))
    }
  }

  /** Build-once persisted LSH band index of the standing corpus
    * (doc_id < boundary) — the s06 build-once/probe-many pattern applied
    * to MinHash: (doc_id, band_hash) rows parquet-partitioned by band_id.
    * At 100 TB this is the artifact an ingest pipeline maintains between
    * batches: built once per corpus snapshot, appended as batches commit,
    * probed by each batch without ever re-shingling the corpus. Memoized
    * per (session, dir); the temp directory dies with the JVM. */
  private val lshIndexPaths =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  private def lshIndexPath(s: SparkSession, dir: String, boundary: Long): String = {
    val key = (s, dir)
    val existing = lshIndexPaths.get(key)
    if (existing != null) return existing
    // build OUTSIDE the map (ivfIndexPath's rule: a multi-second Spark job
    // must not hold a CHM bin lock); a concurrent loser's dir is deleted
    val seen = sigTable(s, dir).filter(col("doc_id") < boundary)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-lsh-index")
    val path = tmpRoot.resolve("bands").toString
    bandTable(seen, bands = 8, rowsPerBand = 4)
      .write.mode("overwrite").partitionBy("band_id").parquet(path)
    def deleteRecursively(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    val prev = lshIndexPaths.putIfAbsent(key, path)
    if (prev != null) { deleteRecursively(tmpRoot); prev }
    else {
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(tmpRoot)))
      path
    }
  }

  /** Degenerate-bucket guard for the LSH band family (d03/d04/d05/d07): a
    * band bucket of m members pairs into m(m-1)/2 candidates inside ONE
    * reducer of the self-join, so a single boilerplate bucket (thousands of
    * near-identical docs sharing a band hash) can dominate the whole job at
    * corpus scale. Buckets larger than `cap` are stoplisted out BEFORE
    * pairing — the [[invertedCandidates]] df-stoplist pattern: the stoplist
    * is a tiny aggregate shipped as a broadcast anti-join, so the guard adds
    * one cheap pass over the banded triples and no new wide shuffle.
    *
    * Recall: a pair dropped in one band can still surface via any OTHER
    * band (that is the point of banding); only pairs whose EVERY collision
    * lands in over-cap buckets are lost, and those are precisely the
    * boilerplate mega-clusters a dedup pipeline caps deliberately (pairing
    * them is Θ(m²) work to rediscover one cluster that exact dedup already
    * collapses). DedupCapSpec proves fixture-equality (no fixture bucket
    * comes near the cap — max identical-shingle-set cluster is 2 at sf0.1)
    * and the candidate drop + bound on a synthetic boilerplate corpus. */
  private[graft] val LshBucketCap = 2048L

  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String], cap: Long): DataFrame = {
    val big = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .select(keys.map(col): _*)
    banded.join(broadcast(big), keys, "left_anti")
  }

  /** Candidate pairs (doc_a < doc_b) from LSH band collisions for a given
    * (bands × rowsPerBand) layout — fewer rows per band → more permissive
    * buckets (catches lower Jaccard). The self-join shuffles only
    * (band_id, band_hash, doc_id) triples, never documents; degenerate
    * buckets are capped (see [[LshBucketCap]]) before pairing. */
  /** (doc_id, band_id, band_hash) triples for a signature table — the one
    * banding definition shared by the self-join candidates (d03/d05) and
    * the persisted incremental index (d19). */
  private[graft] def bandTable(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand)), b))))
      .withColumnsRenamed(Map("pos" -> "band_id", "col" -> "band_hash"))

  private[graft] def lshCandidates(
      sigs: DataFrame, bands: Int, rowsPerBand: Int,
      bucketCap: Long = LshBucketCap): DataFrame = {
    val bd = bandTable(sigs, bands, rowsPerBand)
    val kept = capBuckets(bd, Seq("band_id", "band_hash"), bucketCap)
    kept.withColumnsRenamed(Map("doc_id" -> "doc_a"))
      .join(kept.withColumnsRenamed(Map("doc_id" -> "doc_b")), Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact Jaccard (integer milli) on the hashed shingle sets of each pair.
    * PRECONDITION: `sh` arrays ascending-sorted distinct — guaranteed by
    * every caller (all pass ShingleOps-built tables); the r17 sorted-merge
    * intersect kernel needs order (zero allocation per pair vs
    * array_intersect's per-row OpenHashSet + result array — see
    * [[org.apache.spark.sql.graft.SortedIntersectOps]]). */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), "doc_a")
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), "doc_b")
      .withColumn("n_inter", org.apache.spark.sql.graft.functions
        .sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("n_union", size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
      .withColumn("jaccard_milli", expr("(1000L * n_inter) DIV n_union"))
      .select("doc_a", "doc_b", "jaccard_milli")

  /** Candidate pairs from the inverted-index self-join: docs sharing at
    * least one (surviving) shingle. With `dfStopThreshold = Some(t)`,
    * shingles whose document frequency exceeds `t` are dropped from the
    * posting lists BEFORE pairing — the Σ df² blow-up on heavy-hitter
    * shingles (boilerplate headers, empty-doc sentinels) is capped at t²
    * per stoplisted shingle's worth of avoided pairs. The stoplist itself
    * is a tiny aggregate, shipped as a broadcast anti-join. */
  private[graft] def invertedCandidates(
      sh: DataFrame, dfStopThreshold: Option[Long] = None): DataFrame = {
    val post = sh.select(col("doc_id"), explode(col("sh")).as("e"))
    val kept = dfStopThreshold match {
      case Some(t) =>
        val stop = post.groupBy("e").agg(count(lit(1)).as("df"))
          .filter(col("df") > t).select("e")
        post.join(broadcast(stop), Seq("e"), "left_anti")
      case None => post
    }
    kept.withColumnsRenamed(Map("doc_id" -> "doc_a"))
      .join(kept.withColumnsRenamed(Map("doc_id" -> "doc_b")), "e")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact Jaccard ≥ 0.5 pairs over a shingle table.
    *
    * Default path: |A∩B| is counted directly on the inverted-index
    * self-join, sizes arrive via a broadcast — no shingle array is ever
    * shuffled. Stoplisted path: candidates come from the pruned posting
    * lists, then EXACT Jaccard is verified against the FULL shingle sets,
    * so every reported value is exact; the only approximation is that a
    * pair overlapping ONLY in stoplisted shingles is never considered (on
    * real corpora such pairs are boilerplate collisions, and
    * DedupCacheSpec proves result equality on the fixture). */
  private[graft] def exactJaccardPairsOf(
      sh: DataFrame, dfStopThreshold: Option[Long] = None): DataFrame = {
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    dfStopThreshold match {
      case None =>
        val post = sh.select(col("doc_id"), explode(col("sh")).as("e"))
        post.withColumnsRenamed(Map("doc_id" -> "doc_a"))
          .join(post.withColumnsRenamed(Map("doc_id" -> "doc_b")), "e")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
          .join(broadcast(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "n" -> "na"))), "doc_a")
          .join(broadcast(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n" -> "nb"))), "doc_b")
          .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
          .withColumn("jaccard_milli", expr("(1000L * n_inter) DIV n_union"))
          .filter(col("jaccard_milli") >= 500)
          .select("doc_a", "doc_b", "jaccard_milli")
      case some =>
        verifyJaccard(invertedCandidates(sh, some), sh)
          .filter(col("jaccard_milli") >= 500)
    }
  }

  /** Containment >= 0.8 pairs over a shingle table (d14's core) — the d08
    * shape with |A∩B| normalized by the SMALLER set instead of the union.
    *
    * Default path: intersections counted directly on the inverted-index
    * self-join, sizes broadcast — no shingle array shuffled. Stoplisted
    * path (`dfStopThreshold = Some(t)`): candidates come from the pruned
    * posting lists ([[invertedCandidates]] — the same Σ df² cap as d08),
    * then containment is verified EXACTLY against the FULL shingle sets,
    * so every reported value is exact; only pairs overlapping EXCLUSIVELY
    * in stoplisted (boilerplate) shingles are never considered. */
  private[graft] def containmentPairsOf(
      sh: DataFrame, dfStopThreshold: Option[Long] = None): DataFrame = {
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    dfStopThreshold match {
      case None =>
        val post = sh.select(col("doc_id"), explode(col("sh")).as("e"))
        post.withColumnsRenamed(Map("doc_id" -> "doc_a"))
          .join(post.withColumnsRenamed(Map("doc_id" -> "doc_b")), "e")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
          .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))), "doc_a")
          .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))), "doc_b")
          .withColumn("containment_milli",
            expr("(1000L * n_inter) DIV least(na, nb)"))
          .filter(col("containment_milli") >= 800)
          .select("doc_a", "doc_b", "containment_milli")
      case some =>
        invertedCandidates(sh, some)
          .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), "doc_a")
          .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), "doc_b")
          .withColumn("n_inter", org.apache.spark.sql.graft.functions
            .sorted_intersect_count(col("sh_a"), col("sh_b")))
          .withColumn("containment_milli",
            expr("(1000L * n_inter) DIV least(size(sh_a), size(sh_b))"))
          .filter(col("containment_milli") >= 800)
          .select("doc_a", "doc_b", "containment_milli")
    }
  }

  /** d08's core, reused by d09 — persisted once per (session, dir) via the
    * shared registry so the components query reuses the SAME instance. */
  private def exactJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleTable(s, dir) // resolve BEFORE entering the registry (see sharedDf)
    sharedDf(s, s"pairs|$dir")(exactJaccardPairsOf(sh))
  }

  /** Bloom digest of the "seen" corpus's distinct shingle hashes (docs
    * below the ingest boundary), built ONCE per (session, dir) via
    * `df.stat.bloomFilter` — a distributed treeAggregate; only the k-bit
    * digest ever reaches the driver. Memoized like the IVF quantizer
    * (s02): training artifacts are per-corpus, not per-query. */
  private val sharedBlooms = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), org.apache.spark.util.sketch.BloomFilter]()

  private def seenShingleBloom(
      s: SparkSession, dir: String, boundary: Long): org.apache.spark.util.sketch.BloomFilter = {
    val sh = shingleTable(s, dir) // resolve BEFORE entering the registry (see sharedDf)
    sharedBlooms.computeIfAbsent((s, s"$dir|$boundary"), _ => {
      val seen = sh.filter(col("doc_id") < boundary)
        .select(explode(col("sh")).as("e")).distinct()
      // size the digest to the actual distinct-shingle count (one cheap
      // aggregate): ~9.6 bits/item at 1% fpp, so even a billion distinct
      // shingles is a ~1.2 GB digest — executor-broadcastable where the
      // corpus itself is not joinable
      val n = math.max(seen.count(), 1000L)
      seen.stat.bloomFilter("e", n, 0.01)
    })
  }

  /** d13's doc-level assignment: (doc_id, n_chars, component, split) where
    * split is an md5 bucket of the duplicate-cluster REPRESENTATIVE, so a
    * near-dup cluster always lands in one split (QueriesSpec asserts no
    * exact near-dup pair ever crosses splits). */
  private[graft] def clusterAtomicSplits(s: SparkSession, dir: String): DataFrame = {
    val comps = graft.operators.GraphOps.connectedComponents(
      exactJaccardPairs(s, dir).select("doc_a", "doc_b"))
    val bucket = conv(substring(md5(col("component").cast("string")), 1, 4), 16, 10)
      .cast("long")
    tbl(s, dir, "documents").select("doc_id", "n_chars")
      .join(comps, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(bucket % 100 < 80, "train")
          .when(bucket % 100 < 90, "val")
          .otherwise("test"))
  }

  /** d12's map-side prefilter: incoming docs (>= boundary) at least half of
    * whose shingles hit the seen-corpus Bloom digest — a SOUND superset of
    * every incoming doc with a Jaccard>=0.5 match below the boundary
    * (QueriesSpec proves containment + real pruning on the fixture). */
  private[graft] def bloomPrefilterCandidates(
      s: SparkSession, dir: String, boundary: Long): DataFrame = {
    import org.apache.spark.sql.graft.functions.bloom_count_hits
    val bf = seenShingleBloom(s, dir, boundary)
    shingleTable(s, dir).filter(col("doc_id") >= boundary)
      .filter(bloom_count_hits(col("sh"), bf) * 2 >= size(col("sh")))
  }

  /** d04's banded self-join over (doc_id, simhash): same 16-bit band →
    * verify hamming <= 3. Four disjoint bands cover the whole signature
    * (the top band holds the md5 domain's 12 remaining bits), so by
    * pigeonhole the candidate set is COMPLETE for hamming ≤ 3. Degenerate
    * band buckets are capped before pairing (see [[LshBucketCap]]); the
    * cap is a parameter so DedupCapSpec can pin capped ≡ uncapped on the
    * fixture. */
  private[graft] def simhashPairs(d: DataFrame, bucketCap: Long = LshBucketCap): DataFrame = {
    val banded = d.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> shiftright(simhash, b * 16) & 65535L)")))
      .withColumnsRenamed(Map("pos" -> "band_id", "col" -> "band_val"))
    val kept = capBuckets(banded, Seq("band_id", "band_val"), bucketCap)
    val a = kept.withColumnsRenamed(Map("doc_id" -> "doc_a", "simhash" -> "sim_a"))
    val b = kept.withColumnsRenamed(Map("doc_id" -> "doc_b", "simhash" -> "sim_b"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sim_a ^ sim_b)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  val defs: Map[String, Q] = Map(
    "d01_dedup_exact" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    "d02_dedup_norm" -> ((s, dir) => {
      // normalization: lowercase, strip non-alphanumerics, collapse spaces —
      // one codegen'd byte loop (normalize_text) instead of two regex passes
      // per document (ExpressionsSpec proves equivalence to the regex form)
      val norm = org.apache.spark.sql.graft.functions.normalize_text(col("text"))
      tbl(s, dir, "documents")
        .groupBy(md5(norm).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    "d07_embedding_neardup" -> ((s, dir) => embeddingNearDup(s, dir)),

    "d06_dedup_keep_best" -> ((s, dir) => {
      // cluster by normalized-text hash, keep the "best" doc per cluster
      // (longest, tie-broken by lowest id) — the usual curation policy
      val norm = org.apache.spark.sql.graft.functions.normalize_text(col("text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("text_hash").orderBy(desc("n_chars"), asc("doc_id"))
      tbl(s, dir, "documents")
        .select(md5(norm).as("text_hash"), col("doc_id"), col("n_chars"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("text_hash", "doc_id", "n_chars")
    }),

    "d03_minhash_lsh" -> ((s, dir) => {
      // near-dup pairs (Jaccard ≥ 0.5): 8 bands × 4 rows — P(candidate) per
      // band = j⁴, so j=0.5 → 1-(1-.0625)^8 ≈ 40%/band-set but j=0.8 → 96%;
      // verified candidates are filtered on EXACT Jaccard.
      val sh = shingleTable(s, dir)
      verifyJaccard(lshCandidates(sigTable(s, dir), bands = 8, rowsPerBand = 4), sh)
        .filter(col("jaccard_milli") >= 500)
    }),

    "d04_simhash" -> ((s, dir) => {
      // 60-bit SimHash in the md5 token-hash domain (native expression):
      // bit j of the signature is the sign of sum over tokens of (+1 if
      // bit j of the token hash else -1). The md5 domain is the d16
      // oracle-parity trick: DuckDB reproduces every signature
      // bit-for-bit, and since the 4-band candidate join is COMPLETE for
      // hamming ≤ 3 (pigeonhole: ≤3 differing bits leave one band
      // identical) and no fixture bucket hits the cap (DedupCapSpec), the
      // banded pair set hash-matches a brute-force oracle. The selection
      // logic is hash-agnostic: xxh64 token hashes would work the same.
      val d = sharedDf(s, s"simhash|$dir") { // reused by both join sides
        tbl(s, dir, "documents")
          .select(col("doc_id"), simhash_md5(col("text")).as("simhash"))
      }
      simhashPairs(d)
    }),

    "d05_ngram_jaccard" -> ((s, dir) => {
      // exact 3-gram Jaccard ≥ 0.3, candidates from a MORE PERMISSIVE band
      // layout (16 bands × 2 rows: P(candidate) = 1-(1-j²)^16, j=0.3 → 77%,
      // j=0.5 → 99%) sliced from the SAME cached 32-perm signature as d03.
      // (A PPJoin-style prefix filter was tried first and blows up on
      // small-vocabulary corpora: mega-frequent shingles give O(m²)
      // candidates per hash. Banding caps candidate growth instead.)
      val sh = shingleTable(s, dir)
      verifyJaccard(lshCandidates(sigTable(s, dir), bands = 16, rowsPerBand = 2), sh)
        .filter(col("jaccard_milli") >= 300)
    }),

    "d08_jaccard_exact_join" -> ((s, dir) => {
      // EXACT similarity self-join (Jaccard ≥ 0.5) — sound AND complete,
      // unlike the LSH paths (d03/d05), so it carries a brute-force DuckDB
      // oracle. |A∩B| is counted directly on the inverted-index self-join
      // (pairs sharing ≥1 shingle are exactly the pairs with jaccard > 0),
      // so no shingle ARRAY is ever shuffled or intersected: the wide join
      // moves (hash, doc_id) pairs, one partial-aggregated groupBy counts
      // them, and set sizes arrive via a broadcast. At larger scale pass
      // dfStopThreshold to exactJaccardPairsOf: heavy-hitter shingles are
      // stoplisted out of candidate generation (verification stays on full
      // sets — DedupCacheSpec proves fixture equality and the candidate
      // drop); at bench scale Σ df² ≈ 2.8 M rows — cheap without it.
      exactJaccardPairs(s, dir)
    }),

    "d10_decontaminate" -> ((s, dir) => {
      // benchmark decontamination — the training-data op that keeps eval
      // sets out of the corpus: for every corpus doc, count the distinct
      // token shingles it shares with ANY doc of the eval set (here the
      // pseudo-benchmark doc_id < 20), flagging docs above a contamination
      // threshold. Scale shape: the eval posting list is tiny and
      // BROADCAST, so the corpus side stays map-side — the only shuffle
      // carries (doc_id, shingle_hash) partial-aggregation rows, never
      // text. The threshold (>= 3 shared shingles ≈ a 5-token overlap)
      // separates real leakage from single-phrase collisions.
      val sh = shingleTable(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("e"))
      val evalSet = sh.filter(col("doc_id") < 20)
        .select(col("doc_id").as("eval_id"), col("e")).distinct()
      sh.filter(col("doc_id") >= 20)
        .join(broadcast(evalSet), "e")
        .groupBy("doc_id")
        .agg(countDistinct(col("e")).as("n_shared_shingles"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .filter(col("n_shared_shingles") >= 3)
    }),

    "d11_dedup_pipeline" -> ((s, dir) => {
      // the END-TO-END dedup decision in one operator: near-dup pairs
      // (exact Jaccard >= 0.5, the shared d08 pair table) → connected
      // components (shared with d09) → keep-best representative per
      // cluster (longest doc, ties to the lowest id — d06's policy).
      // Singletons are their own component (left join + coalesce), so the
      // output IS the surviving corpus with cluster bookkeeping. The only
      // corpus-wide shuffle beyond pair generation is the window keyed on
      // component — the same shape as d06's hash-keyed keep-best, and
      // component cardinality ~= corpus cardinality, so no reducer
      // funneling at scale.
      val comps = graft.operators.GraphOps.connectedComponents(
        exactJaccardPairs(s, dir).select("doc_a", "doc_b"))
      val labeled = tbl(s, dir, "documents").select("doc_id", "n_chars")
        .join(comps, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("component")
      val wBest = org.apache.spark.sql.expressions.Window
        .partitionBy("component").orderBy(desc("n_chars"), asc("doc_id"))
      labeled
        .withColumn("n_members", count(lit(1)).over(wAll))
        .withColumn("rk", row_number().over(wBest))
        .filter(col("rk") === 1)
        .select(col("component"), col("doc_id").as("keep_id"),
          col("n_members"), col("n_chars"))
    }),

    "d12_bloom_incremental" -> ((s, dir) => {
      // incremental-ingest near-dedup: test INCOMING docs (doc_id >= 400)
      // against an already-ingested corpus (doc_id < 400) WITHOUT joining
      // the corpus. The seen side is distilled once into a Bloom digest of
      // its distinct shingle hashes; incoming docs prefilter MAP-SIDE via
      // the native bloom_count_hits expression. Soundness: jaccard(A,B) >=
      // 0.5 forces |A∩B| >= |A∪B|/2 >= |A|/2, so any true near-dup has at
      // least half its shingles in the digest (false positives only widen
      // the candidate set). Survivors — a sliver of the ingest — are then
      // verified EXACTLY against seen posting lists, so the final answer
      // is exact (hash-exact oracle below). At 100 TB: the digest is the
      // only corpus-sized artifact that moves, once, as a broadcast; the
      // verify join's left side is already prefiltered to near-nothing.
      val boundary = 400L
      val sh = shingleTable(s, dir)
      val cand = bloomPrefilterCandidates(s, dir, boundary)
      val seenPost = sh.filter(col("doc_id") < boundary)
        .select(col("doc_id").as("seen_id"), explode(col("sh")).as("e"))
      val candPost = cand.select(col("doc_id"), explode(col("sh")).as("e"))
      val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
      candPost.join(seenPost, "e")
        .groupBy("doc_id", "seen_id").agg(count(lit(1)).as("n_inter"))
        .join(broadcast(sizes.select(col("doc_id"), col("n").as("na"))), "doc_id")
        .join(broadcast(sizes.select(col("doc_id").as("seen_id"), col("n").as("nb"))), "seen_id")
        .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
        .withColumn("jaccard_milli", expr("(1000L * n_inter) DIV n_union"))
        .filter(col("jaccard_milli") >= 500)
        // best seen match per incoming doc: max jaccard, ties to the
        // LOWEST seen id — max-of-struct keeps map-side partial agg
        .groupBy("doc_id")
        .agg(max(struct(col("jaccard_milli"), (-col("seen_id")).as("neg"))).as("m"))
        .select(col("doc_id"), (-col("m.neg")).as("dup_of"),
          col("m.jaccard_milli").as("jaccard_milli"))
    }),

    "d19_incremental_lsh" -> ((s, dir) => {
      // incremental MinHash-LSH ingest — the INDEXED sibling of d12's
      // bloom gate: the standing corpus (doc_id < 400) is distilled ONCE
      // into a persisted band index (d03's 8×4 layout, parquet partitioned
      // by band_id — the s06 build-once/probe-many pattern applied to
      // LSH). An ingest batch shingles and signs only ITS OWN documents
      // and probes the index on (band_id, band_hash); the corpus is never
      // re-shingled, re-signed, or re-shuffled — the index is the only
      // corpus-sized artifact, written once at snapshot time. Survivor
      // pairs verify EXACTLY against shingle posting lists, then each
      // incoming doc keeps its best seen match (d12's output shape: max
      // jaccard, ties to the lowest seen id). Oracle: d03's brute-force
      // oracle proves the 8×4 banding candidate-complete at jaccard ≥ 0.5
      // corpus-wide on this fixture, so the index probe must reproduce
      // d12's EXHAUSTIVE new×seen compare — hash-checked against exactly
      // that SQL.
      val boundary = IncrementalLshBoundary
      val sh = shingleTable(s, dir)
      val idx = readParquet(s, lshIndexPath(s, dir, boundary))
        .withColumnsRenamed(Map("doc_id" -> "doc_b"))
      val probe = bandTable(
        sigTable(s, dir).filter(col("doc_id") >= boundary), bands = 8, rowsPerBand = 4)
        .withColumnsRenamed(Map("doc_id" -> "doc_a"))
      val cand = probe.join(idx, Seq("band_id", "band_hash"))
        .select("doc_a", "doc_b").distinct()
      verifyJaccard(cand, sh)
        .filter(col("jaccard_milli") >= 500)
        .groupBy(col("doc_a").as("doc_id"))
        .agg(max(struct(col("jaccard_milli"), (-col("doc_b")).as("neg"))).as("m"))
        .select(col("doc_id"), (-col("m.neg")).as("dup_of"),
          col("m.jaccard_milli").as("jaccard_milli"))
    }),

    "d13_leakage_free_split" -> ((s, dir) => {
      // leakage-free train/val/test split: hashing each DOC into a split
      // (t07) silently puts near-duplicates on both sides of the
      // train/eval boundary — the classic contamination bug. Bucketing on
      // the duplicate-CLUSTER representative instead assigns every
      // near-dup cluster atomically: split = md5(min doc id of the
      // component), singletons = their own id. QueriesSpec asserts the
      // invariant that no near-dup pair crosses splits.
      clusterAtomicSplits(s, dir)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    "d14_containment" -> ((s, dir) => {
      // asymmetric CONTAINMENT detection — the near-dup class symmetric
      // Jaccard misses: a short document quoted/embedded inside a longer
      // one has |A∩B|/|A| ≈ 1 while |A∩B|/|A∪B| stays small. Reports
      // ordered pairs where >= 80% of the smaller side's shingles appear
      // in the other doc. Same scale shape AND the same scale lever as
      // d08: at bench scale Σ df² is cheap without a stoplist; at corpus
      // scale pass dfStopThreshold to containmentPairsOf (DedupCacheSpec
      // proves fixture equality and the candidate drop).
      containmentPairsOf(shingleTable(s, dir))
    }),

    "d09_dup_components" -> ((s, dir) => {
      // duplicate-cluster assignment: connected components over the exact
      // near-dup pair graph (jaccard ≥ 0.5), each doc labeled with the MIN
      // doc_id of its component — the step that turns pairwise near-dups
      // into "keep one per cluster" decisions. GraphOps picks driver-side
      // union-find for bounded pair sets and distributed min-label
      // propagation (localCheckpoint between rounds) beyond.
      graft.operators.GraphOps.connectedComponents(
        exactJaccardPairs(s, dir).select("doc_a", "doc_b"))
    }),

    "d15_semdedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al., 2023): semantic near-dup pruning with the
      // pairwise work BOUNDED BY A COARSE CLUSTERING — vectors are first
      // assigned to their nearest trained centroid (s02's literal-pivot
      // map-side rule), then exact cosine runs only WITHIN a cluster. The
      // one shuffle keys the corpus by pivot_id; per-reducer work is
      // O(cluster²), and the cluster count √-SCALES with the corpus
      // (SimilarityQueries.semdedupNlist — 16 on the fixture, 50 on the
      // 10× bench tier), keeping per-cluster cost sub-linear. A vector
      // is dropped when a smaller-id cluster-mate sits above the cosine
      // threshold; rep_id = the smallest such mate, so keep-lists are
      // deterministic. Approximation surface (cross-cluster pairs are
      // never compared) is pinned by QueriesSpec: every reported pair is
      // exactly verified sound, recall vs the brute-force pair set is
      // floored, and the threshold uses this corpus' cosine range (max
      // pairwise ≈ 0.48; production would use ~0.95).
      import org.apache.spark.sql.graft.functions.vec_cosine
      // sharedDf across the self-join's two sides (the d04 precedent): the
      // nlist-cosine assignment pass is the entry's dominant CPU and was
      // computed ONCE PER SIDE before (an r12 stage probe showed two ~8 s
      // stages, both at the scan's t=10 layout); spreadScan rebalances the
      // undersized fixture scan so the one remaining pass uses the full
      // session parallelism.
      // resolve BEFORE entering the registry (the sharedDf contract):
      // building this plan trains ivfPivots and materializes spread()'s
      // partition probe — multi-second Spark jobs that must not run under
      // a CHM bin lock (the ivfPivots rule; r12 review)
      val assignedPlan = SimilarityQueries.semdedupAssigned(s, dir, spreadScan = true)
      val a = sharedDf(s, s"semdedup_assigned|$dir") { assignedPlan }
      a.select(col("pivot_id"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
        .join(a.select(col("pivot_id"), col("vec_id").as("vec_b"), col("embedding").as("emb_b")),
          "pivot_id")
        .filter(col("vec_a") < col("vec_b"))
        .filter(vec_cosine(col("emb_a"), col("emb_b")) >= 0.3)
        .groupBy(col("vec_b"))
        .agg(min(col("vec_a")).as("rep_id"), count(lit(1)).as("n_sem_dups"))
        .select(col("vec_b").as("vec_id"), col("rep_id"), col("n_sem_dups"))
    }),

    "d16_substring_dup" -> ((s, dir) => {
      // exact-substring duplication profile (Lee et al. 2022's ExactSubstr
      // class): verbatim spans reused across otherwise-different documents
      // — the duplication token-level Jaccard under-weights (a 50-char
      // boilerplate inside a 5000-char doc barely moves its shingle set
      // but is exactly what a model memorizes). Fingerprints come from the
      // native winnowing expression, whose guarantee is alignment-free:
      // any shared verbatim span ≥ w+k−1 = 39 chars yields at least one
      // identical fingerprint in every copy, at ANY offsets (see
      // WinnowOps; ExpressionsSpec proves the guarantee on shifted spans).
      // Only 8-byte fingerprints shuffle — never text; df = distinct docs
      // per fingerprint is the t11 posting-list shape, linear at 100 TB.
      // Output: per-doc duplicated-fingerprint ratio. The fixture's word
      // salad shares few long spans, so a deterministic boilerplate
      // sentence is appended to every 5th doc in-query (the t15 pattern —
      // same construction in the oracle; winnowing is what's under test).
      import org.apache.spark.sql.graft.functions.winnow_fingerprints
      // spread() before the winnow projection: the per-doc k-gram hashing
      // is the work here, and a one-split scan would serialize it
      // localCheckpoint: TWO consumers (the df aggregate and the join probe)
      // would otherwise each re-run the winnowing pass — the operator's
      // dominant CPU (the exchanges can't be reused: one side partial-
      // aggregates before its shuffle). The materialized table is
      // fingerprints-only (16-byte rows, ~1-2% of corpus bytes) — the same
      // bounded-intermediate class as d22's posting checkpoint.
      val f = spread(tbl(s, dir, "documents"))
        .withColumn("t", concat(col("text"), expr(
          "CASE WHEN doc_id % 5 = 0 THEN ' standard corpus boilerplate notice applies to this document and may be ignored' ELSE '' END")))
        .select(col("doc_id"), explode(winnow_fingerprints(col("t"), 32, 8)).as("fp"))
        .summarizedCheckpoint()
      // winnow_fingerprints returns the per-document DISTINCT set, so
      // (doc_id, fp) rows are unique and df is a plain count — the
      // countDistinct formulation paid a second corpus-pair shuffle plus a
      // single-task final dedup for a distinctness the expression already
      // guarantees (same argument as t08's tf).
      // r21 (guide §5, VERDICT item 3): df attaches as a count-over-fp
      // WINDOW instead of groupBy + self-join — the join's build side
      // hashed the ENTIRE (fp, df) table per task (the heavy tier's
      // largest transient allocation, 8.5 GB peak across 32 tasks, and
      // unboundable at 100 TB where the fingerprint table outgrows any
      // heap). The window form shuffles f ONCE on fp (one Exchange
      // replaces the join's two) and its only per-task state is the
      // current fp group — bounded by a fingerprint's duplication
      // multiplicity, spillable by sort. Same rows: count over the full
      // fp partition IS df for every (doc_id, fp) row.
      val wfp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      f.withColumn("df", count(lit(1)).over(wfp))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fingerprints"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_fps"))
        .withColumn("dup_ratio_milli", expr("(1000L * n_dup_fps) DIV n_fingerprints"))
    }),

    "d18_weighted_overlap" -> ((s, dir) => {
      // WEIGHTED near-dup similarity — exact tf-vector cosine with the
      // threshold decided in EXACT INTEGER arithmetic: cos(a,b) ≥ 9/10
      // ⇔ 100·dot² ≥ 81·|a|²·|b|² (dot ≥ 0 since tf ≥ 0), so no float
      // ever enters the result and the oracle hash-matches. (On this
      // shared-vocabulary fixture a 0.5 threshold keeps 80% of ALL pairs
      // — tf-cosine needs a high bar to mean "near-dup"; 0.9 keeps 39.)
      // This is the near-dup class the SET-based paths (d05/d08 Jaccard)
      // under-weight: docs hammering the same few terms at different
      // repeat counts have high tf-cosine but modest shingle overlap.
      //
      // FORMULATION (the r7 lesson — the inverted-index term self-join
      // took 24 s at sf0.1): when the vocabulary is SMALL relative to the
      // corpus (boilerplate/template regime; this fixture has 31 terms),
      // every posting list is corpus-sized and Σ df² explodes — so docs
      // become DENSE tf vectors over the broadcast vocabulary and each
      // pair is ONE fused integer-dot loop (native long_vec_dot), not
      // Σ shared-term join rows. The complementary regime (vocab ≫ docs:
      // real text) wants d08's inverted index + df-stoplist instead.
      //
      // PAIRING (the r8 rework): exact all-pairs is Ω(pairs) by
      // definition, and the r7 form (a × broadcast(b)) shipped the whole
      // tf table to every executor. An LSH blocking stage was measured
      // first (the r7-verdict suggestion) and does NOT work on this
      // measure/corpus: tf-cosine ≥ 0.9 pairs are DENSE here (1777 of
      // 12.5M pairs at sf0.1, with 80% of all pairs above weighted-
      // Jaccard banding's retention threshold), so ordered-shingle bands
      // miss 17/42 true pairs at sf0.01 and weighted-MinHash bands still
      // retain ~80% of ALL pairs as candidates while missing 1-206 pairs
      // at sf0.1 — banding can neither bound the verify nor stay exact.
      // The shipped pairing is instead the blocked equi-join all-pairs
      // kernel (CrossOps.blockedSelfPairs — s10's shape): bounded
      // per-task state, no corpus broadcast, no cartesian plan node, and
      // the oracle stays hash-exact at EVERY scale because the semantics
      // are unchanged. Vocabulary is capped at the 4096 highest-df terms
      // (deterministic ties) so the broadcast stays bounded; the
      // fixture's 31 ≪ 4096, so the measure is exact here.
      import org.apache.spark.sql.graft.functions.long_vec_dot
      val tf = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(filter(split(col("text"), " "),
          t => t =!= "")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val vocab = boundedCollect(
        tf.groupBy("term").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), asc("term")).limit(4096),
        4096, "d18 vocab (explicit top-df limit)")
        .map(_.getString(0)).sorted.zipWithIndex.toMap
      val vSize = vocab.size
      val vocabCol = typedLit(vocab)
      val tfv = sharedDf(s, s"tfv|$dir") {
        tf.filter(element_at(vocabCol, col("term")).isNotNull)
          .groupBy("doc_id")
          .agg(map_from_entries(collect_list(
            struct(element_at(vocabCol, col("term")).as("i"), col("tf")))).as("m"))
          .select(col("doc_id"),
            transform(sequence(lit(0), lit(vSize - 1)),
              i => coalesce(element_at(col("m"), i), lit(0L))).as("tfv"))
          .withColumn("n2", long_vec_dot(col("tfv"), col("tfv")))
      }
      graft.operators.CrossOps.blockedSelfPairs(tfv, "doc_id")
        .withColumn("dot", long_vec_dot(col("tfv_a"), col("tfv_b")))
        .filter(lit(100) * col("dot") * col("dot") >= lit(81) * col("n2_a") * col("n2_b"))
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
          col("dot"), col("n2_a"), col("n2_b"))
    }),

    "d17_fuzzy_join" -> ((s, dir) => {
      // fuzzy self-join at scale — the FastSS/SymSpell deletion-
      // neighborhood block: two strings within edit distance 1 MUST share
      // a member of {s} ∪ {s − char i} (substitution at i ⇒ both sides
      // delete i; insertion ⇒ the shorter string IS a deletion variant of
      // the longer), so blocking on deletion variants is provably
      // COMPLETE for distance ≤ 1, and the exact codegen'd levenshtein
      // verify keeps it sound — candidate generation is O(n·len) keys
      // against the brute force's O(n²) levenshtein calls. Shuffles move
      // (variant, name) pairs; variant buckets are bounded by the number
      // of strings one substitution apart (cap with capBuckets on a
      // pathological key space). Runs on REAL structure: customer names
      // differ in single digit positions, no synthetic spans needed.
      // variants travel as 8-byte hashes from the native
      // deletion_variant_hashes expression (one tight loop per row — the
      // interpreted transform/substring/concat equivalent allocates len
      // strings per row per pass); a hash collision can only ADD a
      // candidate, which the exact verify removes (soundness unharmed,
      // completeness untouched)
      import org.apache.spark.sql.graft.functions.deletion_variant_hashes
      // the name table arrives as ONE input split at small SFs, which
      // would serialize the whole explode→probe→verify fan-out onto one
      // core — spread the names first with an EXPLICIT partition count
      // (a bare column repartition is an ENSURE_REQUIREMENTS exchange AQE
      // coalesces straight back to one partition for 15k tiny rows; the
      // numbered form pins the fan-out parallelism, which is where the
      // Σ bucket² verify work actually happens)
      val c = tbl(s, dir, "customer").select(col("c_name").as("name"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("name"))
      val vars = c.select(col("name"),
        explode(deletion_variant_hashes(col("name"))).as("vh"))
      vars.withColumnRenamed("name", "name_a")
        .join(vars.withColumnRenamed("name", "name_b"), "vh")
        .filter(col("name_a") < col("name_b"))
        .select("name_a", "name_b").distinct()
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 1)
    }),

    "d20_cross_doc_spans" -> ((s, dir) => {
      // CROSS-DOCUMENT exact-span removal — the Lee et al. 2022
      // ("Deduplicating Training Data Makes LMs Better") suffix-array
      // semantics in window-hash form: every 10-token window that appears
      // anywhere else in the corpus keeps only its EARLIEST occurrence
      // (min (doc_id, pos), packed into one long key); every later
      // occurrence marks its span for removal, and each document is
      // rewritten with the surviving tokens (t21's rewrite machinery, but
      // the duplicate test is corpus-wide, not doc-local — this is what
      // d16's winnowing APPROXIMATES with sampled fingerprints; here the
      // windows are exhaustive, so the guarantee is exact at W=10).
      // Scale shape: the group-by and self-join shuffle only (56-bit
      // window hash, packed position) longs; the rewrite joins the
      // removal-position arrays BROADCAST back onto the corpus scan
      // (bounded by the duplicated-doc subset — the d12 sparse-dup
      // assumption; at dense dup rates both sides would instead be
      // bucketed by doc_id so text still never re-shuffles).
      // r21 (guide §1.2 step 1, §2.3, §4): window hashing moved to the
      // native token_window_hashes expression — chained xxh64 over token
      // hashes, one tight loop per document — where the old pipeline built
      // a ~60-char string per position (slice → concat_ws) and md5-digested
      // it, TWICE (the first-occurrence groupBy and the join probe each
      // recomputed the whole wins subtree), carrying the full token array
      // through the explode on both sides. Window identity moves from the
      // 56-bit md5 prefix to 64-bit token-boundary-aware xxh64 — the same
      // hash-domain-grouping argument as t10/d08 with strictly LOWER
      // collision odds; no hash reaches the output, and the oracle
      // (DuckDB's own md5 replay, unchanged) stays hash-exact at 3 SFs.
      // The earliest-occurrence pass is now ONE window min over h instead
      // of groupBy + self-join: wins is computed once, one Exchange
      // replaces two, and the join's corpus-sized hash build (the entry's
      // 4.3 GB heavy-tier peak) disappears — the per-h sort groups are
      // bounded by a window's duplication multiplicity.
      import org.apache.spark.sql.graft.functions.token_window_hashes
      val W = 10
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), filter(split(col("text"), " "), t => t =!= "").as("tk"))
      val wins = tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(token_window_hashes(col("text"), W)))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("h"))
      // earliest-occurrence key packs (doc_id, p) into one long with
      // DISJOINT bit fields — doc_id in the top 31 bits, position in the
      // low 32 — so the packing is collision-free and order-preserving for
      // any real document (a 2^32-token doc would be a >16 GB string, over
      // Spark's single-value limit). The range guard lives INSIDE the value
      // expression so column pruning can never elide it: out-of-range ids
      // or positions raise instead of silently colliding (the old
      // doc_id*1e6+p packing collided at ≥1e6 windows/doc).
      val packed = expr(
        """if(doc_id >= 0 AND doc_id < 2147483648 AND p >= 0 AND p < 4294967296,
          |   doc_id * 4294967296L + p,
          |   CAST(raise_error(concat('d20 packed key overflow: doc_id=', doc_id,
          |                           ' p=', p)) AS BIGINT))""".stripMargin)
      val wmin = org.apache.spark.sql.expressions.Window.partitionBy("h")
      val rm = wins
        .withColumn("fk", min(packed).over(wmin))
        .filter(packed =!= col("fk"))
        .select(col("doc_id"), explode(expr(s"sequence(p, p + ${W - 1})")).as("cp"))
        .distinct()
        .groupBy("doc_id").agg(collect_set(col("cp")).as("rm"))
      d.join(broadcast(rm), Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("tk")).as("n_tokens"),
          coalesce(size(col("rm")), lit(0)).as("n_removed"),
          expr("array_join(filter(tk, (t, i) -> rm IS NULL OR NOT array_contains(rm, i + 1)), ' ')")
            .as("clean_text"))
    }),

    "d21_cc_alternating" -> ((s, dir) => {
      // d09's duplicate-cluster assignment by the PRODUCTION-SCALE
      // algorithm: alternating large-star/small-star contraction (Kiveris
      // et al., SoCC 2014 — [[graft.operators.GraphOps
      // .connectedComponentsAlternating]]). d09's distributed path is
      // min-label propagation — one full shuffle per HOP of component
      // diameter, and web-corpus duplicate families chain (A ≈ B ≈ C ≈ …),
      // so diameter grows with the corpus; the alternating form converges
      // in O(log² n) rounds on any topology with bounded per-task state
      // (no neighbor lists — the per-node min is an aggregate). Labels are
      // provably identical (GraphOpsSpec); cluster sizes ride along as the
      // "how much is duplicated" report column.
      val labels = graft.operators.GraphOps.connectedComponentsAlternating(
        exactJaccardPairs(s, dir).select("doc_a", "doc_b"))
      labels.withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("component")))
    }),

    "d22_prefix_filter_join" -> ((s, dir) => {
      // d08's exact-Jaccard join with the THEOREM-backed candidate cut:
      // prefix filtering (AllPairs/PPJoin — see
      // [[graft.operators.PrefixFilterOps]]). Sets ordered by global
      // rarest-first df, only the first |x| − ⌈τ·|x|⌉ + 1 elements enter
      // the inverted index, and the τ·|a| ≤ |b| ≤ |a|/τ length filter
      // prunes the rest — sound AND complete at τ = 0.6 with NO stoplist
      // caveat (d08's df-stoplist trades completeness for the same cut).
      // Heavy hitters sort LAST in the canonical order, so they fall out
      // of prefixes instead of flooding candidate buckets. Shares the
      // persisted shingle-hash table with the d03/d08 family; every join
      // key is an 8-byte hash. assumeDistinct: shingle sets are sorted +
      // deduped inside the expression (ShingleOps.shingleHashes), so the
      // operator's entry enforcement pass and its full-corpus checkpoint
      // are skipped (r11 advice — the redundant pass cost ~1.3 s on the
      // heavy tier).
      graft.operators.PrefixFilterOps
        .jaccardSelfJoin(shingleTable(s, dir), "doc_id", "sh", 3, 5,
          assumeDistinct = true)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
    }),

    "d23_dup_kcore" -> ((s, dir) => {
      // k-CORE of the duplicate-pair graph (k = 2): d09/d21 label WHICH
      // docs belong to the same duplicate family; the 2-core separates
      // HOW they duplicate — chain-linked borderline pairs (A≈B≈C where
      // A and C are not near-dups: they peel away, degree < 2) versus
      // cyclically-verified clusters (every member near-dups ≥2 others:
      // the set you can delete all-but-one of with confidence). Peeling
      // is the textbook simultaneous-removal iteration
      // alive_{i+1} = {v : deg_alive(v) ≥ k}, run a FIXED 8 rounds in
      // both engines (the q80 unrolled-oracle discipline — the fixture
      // fixpoint lands in 2; DedupCapSpec asserts convergence so the
      // fixed count IS the k-core, not a truncation). Scale shape: each
      // round is two id-keyed semi-joins + one partial-aggregated degree
      // count over the PAIR graph (≪ corpus), alive shrinks
      // monotonically, and localCheckpoint truncates the growing plan
      // exactly like q80's iteration.
      graft.operators.GraphOps.kcore(
        exactJaccardPairs(s, dir).select("doc_a", "doc_b"), k = 2, rounds = 8)
    }),

    "d24_detector_consensus" -> ((s, dir) => {
      // detector AGREEMENT audit — production dedup stacks run several
      // detectors and act on where they disagree: exact Jaccard ≥ 0.5
      // flags SET-similar pairs, SimHash hamming ≤ 3 flags
      // ANGULAR-similar ones. 'simhash_only' is the angular
      // false-positive class (similar token distribution, different
      // sets), 'jaccard_only' the true near-dups the 60-bit projection
      // misses — the two numbers that tune a detector stack. One full
      // outer join of the two verified pair tables (both id-keyed,
      // both ≪ corpus; the shared shingle/simhash intermediates are
      // reused, not rebuilt). Sentinel -1 marks a metric the flagging
      // detector did not compute for that pair.
      val jp = exactJaccardPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jaccard_milli"))
      val sp = defs("d04_simhash")(s, dir)
      jp.join(sp, Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"),
          when(col("jaccard_milli").isNotNull && col("hamming").isNotNull, "both")
            .when(col("jaccard_milli").isNotNull, "jaccard_only")
            .otherwise("simhash_only").as("verdict"),
          coalesce(col("jaccard_milli"), lit(-1L)).as("jaccard_milli"),
          coalesce(col("hamming"), lit(-1)).as("hamming"))
    }),

    "d25_dup_telemetry" -> ((s, dir) => {
      // dedup OBSERVABILITY — the per-(source, lang) readout a curation
      // dashboard tracks run over run: what fraction of each corpus slice
      // is exact-duplicated (d02's normalized digest with corpus-wide
      // multiplicity > 1) and near-duplicated (membership in the verified
      // exact-Jaccard >= 0.5 pair table shared with d08/d09/d11/d24 — the
      // persisted intermediate is REUSED, not rebuilt). Scale shape: one
      // digest-keyed shuffle (carrying digests, never text) for exact
      // multiplicity, one id-keyed left join against the pair-member id
      // set (≪ corpus), then a low-cardinality (source, lang) rollup that
      // partial-aggregates map-side. The milli rates are the numbers that
      // page an on-call when a crawler starts re-fetching a domain.
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          md5(lower(col("text"))).as("k"))
      val nearIds = exactJaccardPairs(s, dir)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
        .withColumn("is_near", lit(1L))
      d.withColumn("mult",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("k")))
        .join(nearIds, Seq("doc_id"), "left")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("mult") > 1, 1L).otherwise(0L)).as("n_exact_dup"),
          sum(coalesce(col("is_near"), lit(0L))).as("n_near_dup"))
        .withColumn("exact_milli", expr("(1000 * n_exact_dup) DIV n_docs"))
        .withColumn("near_milli", expr("(1000 * n_near_dup) DIV n_docs"))
    }),

    "d26_minhash_estimator_audit" -> ((s, dir) => {
      // MinHash ESTIMATOR metrology — the audit that justifies d03's
      // band design before anyone trusts it: for every doc pair sharing
      // at least one 3-shingle, compare the 32-permutation signature
      // estimate (matching positions / 32 — unbiased: P(min_p(A) =
      // min_p(B)) = J exactly) against the true Jaccard, aggregated
      // into a per-decile calibration table (n_pairs, mean exact vs
      // mean estimate, all floor-milli integers). Permutations are
      // md5-derived over the shingle STRINGS (its own domain — the
      // audit measures the estimator, not d03's xxhash64 plumbing), so
      // the whole pipeline replays bit-for-bit in the oracle. Scale
      // note: the shared-shingle pair space is quadratic in cluster
      // size BY DESIGN (like s10's exact baseline, this is the
      // measurement, not the production path); the entry therefore runs
      // the audit over a DETERMINISTIC 20% corpus slice (md5(doc_id)
      // mod 5 < 1 — replayed identically by the oracle), which is how a
      // production metrology audit runs anyway: the estimator's
      // calibration is a property of the hash family, not of any one
      // document, and the slice cuts the quadratic pair space to ~4%
      // while the per-decile table stays exact over the sampled pairs
      // (r12 verdict item 4: the full audit was the slowest main-tier
      // entry in both environments — drop the sample predicate to run
      // it). Signatures cost one map-side 32-hash fan-out per posting
      // row and one (doc, perm)-keyed min.
      val P = 32
      val tk = filter(split(col("text"), " "), t => t =!= "")
      // spread: the single-row-group fixture scan would otherwise run the
      // 32-hash signature fan-out on one core (QueryDsl.spread — a no-op
      // once scans yield >= parallelism splits)
      val sh = spread(tbl(s, dir, "documents")
          .filter(expr("CONV(SUBSTRING(MD5(CAST(doc_id AS STRING)),1,4),16,10) % 5 < 1")))
        .select(col("doc_id"), tk.as("tk")).filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(tk) - 2), " +
            "i -> concat_ws(' ', element_at(tk,i), element_at(tk,i+1), element_at(tk,i+2))))"))
          .as("sh"))
        .summarizedCheckpoint() // consumed 3x: sizes, pairs (both sides), signatures
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val pairs = sh.toDF("doc_a", "sh").join(sh.toDF("doc_b", "sh"), "sh")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
        .join(broadcast(sizes.toDF("doc_a", "sza")), "doc_a")
        .join(broadcast(sizes.toDF("doc_b", "szb")), "doc_b")
        .withColumn("jaccard_milli", expr("(1000 * ni) DIV (sza + szb - ni)"))
        .select("doc_a", "doc_b", "jaccard_milli")
      // signatures in the standard MinHash layout — ONE fixed 32-long
      // array per doc (the d03 signature-table shape), so the estimate
      // is a map-side zip_with per pair instead of a 32x-fanned
      // (doc, perm)-keyed join (measured 3x+ on the sf0.1 tier, where
      // the near-dup clusters make the pair space large). The fixed
      // 256 B array on the two id-keyed joins is the d22-verify payload
      // class: one bounded sketch per row, never a corpus-sized artifact.
      val sig = sh.select(col("doc_id"), posexplode(array((0 until P).map(p =>
          expr(s"CAST(CONV(SUBSTRING(MD5(CONCAT('$p:', sh)), 1, 14), 16, 10) AS BIGINT)")): _*)))
        .toDF("doc_id", "p", "hp")
        .groupBy("doc_id", "p").agg(min("hp").as("mh"))
        .groupBy("doc_id")
        .agg(expr("transform(array_sort(collect_list(struct(p, mh))), x -> x.mh)").as("sig"))
      pairs
        .join(sig.toDF("doc_a", "siga"), "doc_a")
        .join(sig.toDF("doc_b", "sigb"), "doc_b")
        .withColumn("nm",
          expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b))"))
        .withColumn("est_milli", expr(s"(1000 * nm) DIV $P"))
        .groupBy(expr("CAST(jaccard_milli DIV 100 AS INT)").as("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("SUM(jaccard_milli) DIV COUNT(1)").as("mean_exact_milli"),
          expr("SUM(est_milli) DIV COUNT(1)").as("mean_est_milli"))
    })
  )

  import org.apache.spark.sql.graft.functions.{vec_cosine, vec_srp_md5}

  /** d07's banded candidates over (vec_id, sk) SRP sketches: 4×8-bit bands,
    * degenerate buckets capped before pairing (see [[LshBucketCap]]). */
  private[graft] def srpCandidates(sk: DataFrame, bucketCap: Long = LshBucketCap): DataFrame = {
    val banded = sk.select(col("vec_id"),
      posexplode(expr("transform(sequence(0, 3), b -> shiftright(sk, b * 8) & 255L)")))
      .withColumnsRenamed(Map("pos" -> "band_id", "col" -> "band_val"))
    val kept = capBuckets(banded, Seq("band_id", "band_val"), bucketCap)
    kept.withColumnsRenamed(Map("vec_id" -> "vec_a"))
      .join(kept.withColumnsRenamed(Map("vec_id" -> "vec_b")), Seq("band_id", "band_val"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }

  private val embeddingNearDup: Q = (s, dir) => {
    // embedding-cosine near-dup: 32-plane SRP sketch per vector (one long),
    // band into 4x8-bit buckets, verify candidates with exact cosine.
    // Shuffle payload: (band, byte, vec_id) — never the vectors.
    // The 0.2 report threshold keeps output meaningful on this synthetic
    // corpus (max pairwise cosine ≈ 0.48 — no true near-dups exist);
    // production would use ~0.95.
    // Sketches use the md5-plane variant so the WHOLE pipeline — planes,
    // signs, bands, bucket cap, ascending-double cosine — replays
    // bit-for-bit in DuckDB (the d04/d16 oracle-parity trick; see
    // [[org.apache.spark.sql.graft.SrpMd5Ops]]); the banding geometry is
    // hash-agnostic.
    val emb = tbl(s, dir, "embeddings")
    val sk = sharedDf(s, s"srp|$dir") {
      emb.select(col("vec_id"), col("embedding"), vec_srp_md5(col("embedding"), 32).as("sk"))
    }
    srpCandidates(sk)
      .join(sk.select(col("vec_id").as("vec_a"), col("embedding").as("e_a")), "vec_a")
      .join(sk.select(col("vec_id").as("vec_b"), col("embedding").as("e_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"), vec_cosine(col("e_a"), col("e_b")).as("cos"))
      .filter(col("cos") >= 0.2)
  }

  // d03/d05 carry the same brute-force exact-Jaccard oracle as d08 (at
  // their own thresholds): the banded candidate generation is fully
  // deterministic (fixed-seed xxhash64), and on this corpus every true
  // pair sits at jaccard >= 0.8 where the band layouts' miss probability
  // is ~1.5% (d03) / ~1e-7 (d05) — verified empirically: the LSH output
  // EQUALS the exact join at both sf0.001 and sf0.01. The subset specs in
  // QueriesSpec prove soundness; these oracles prove completeness on the
  // fixture. (A pair at jaccard just above a threshold could in principle
  // be missed on a different corpus — the oracle certifies this fixture,
  // the spec certifies the invariant.)
  /** Shared DuckDB-oracle CTE scaffolding: the whitespace token split and
    * the 3-token shingle SET (CHR(1) sentinel for empty docs, whole-doc
    * shingle under 3 tokens) — the oracle replay of the Spark side's
    * token_shingle_hashes preprocessing. ONE definition interpolated by
    * every d-family oracle (13 copies before r11): the p01/t26/p03
    * cross-claims depend on all consumers shingling identically, so the
    * scaffolding must be impossible to drift per-entry. */
  private val OracleTkCte =
    "tk AS (SELECT doc_id, LIST_FILTER(STR_SPLIT(text, ' '), t -> t <> '') AS tk FROM documents)"
  private val OracleShingleCtes = s"""$OracleTkCte,
      sh AS (SELECT doc_id,
                    CASE WHEN LEN(tk) = 0 THEN [CHR(1)]
                         WHEN LEN(tk) < 3 THEN [ARRAY_TO_STRING(tk, ' ')]
                         ELSE LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(tk) - 2),
                                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                    END AS s
             FROM tk)"""

  private val exactJaccardOracle = s"""
      WITH ${OracleShingleCtes},
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               LEN(LIST_INTERSECT(a.s, b.s)) AS ni,
               LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s)) AS nu
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, (1000 * ni) // nu AS jaccard_milli
      FROM pairs
      WHERE (1000 * ni) // nu >= %d"""

  /** Brute-force bipartite best-match: every incoming (doc_id >= 400) ×
    * seen (doc_id < 400) pair at jaccard >= 0.5, best seen match per
    * incoming doc (max jaccard, ties to the lowest seen id). Shared by
    * d12 (bloom prefilter) and d19 (persisted band index) — two prune
    * strategies, one exact answer. */
  private val incrementalBestMatchOracle = s"""
      WITH ${OracleShingleCtes},
      pairs AS (
        SELECT i.doc_id AS doc_id, s2.doc_id AS dup_of,
               (1000 * LEN(LIST_INTERSECT(i.s, s2.s)))
               // (LEN(i.s) + LEN(s2.s) - LEN(LIST_INTERSECT(i.s, s2.s))) AS jaccard_milli
        FROM sh i JOIN sh s2 ON i.doc_id >= 400 AND s2.doc_id < 400),
      best AS (
        SELECT doc_id, dup_of, jaccard_milli,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY jaccard_milli DESC, dup_of) AS rk
        FROM pairs
        WHERE jaccard_milli >= 500)
      SELECT doc_id, dup_of, jaccard_milli FROM best WHERE rk = 1"""

  val oracles: Map[String, String] = Map(
    "d03_minhash_lsh" -> exactJaccardOracle.format(500),

    // full-pipeline replay of the SRP LSH: md5-derived hyperplanes
    // (r(p,i) = ((md5_60("p|i") >> 7) / 2^53)·2 − 1, a 53-bit
    // mantissa-exact double), per-plane sign of an ascending-double dot
    // (LIST_REDUCE is the same left fold VecOps runs), 4×8-bit bands,
    // the >2048 bucket cap, and VecOps.cosine's exact IEEE sequence
    // (three ascending sums, sqrt·sqrt, one divide) — so even the cos
    // DOUBLES hash-match. The sketch itself is what makes this
    // approximation oracle-able: same planes ⇒ same candidate set.
    "d07_embedding_neardup" -> """
      WITH planes AS (
        SELECT p, LIST(r ORDER BY i) AS rv FROM (
          SELECT pp.g AS p, ii.g AS i,
                 CAST((CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(pp.g AS VARCHAR), '|', CAST(ii.g AS VARCHAR))), 1, 15)) AS BIGINT) >> 7) AS DOUBLE)
                   / 9007199254740992.0 * 2.0 - 1.0 AS r
          FROM (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS g) pp,
               (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS g) ii)
        GROUP BY p),
      sk AS (
        SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sk
        FROM (
          SELECT e.vec_id, pl.p,
                 LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
                   LIST_TRANSFORM(GENERATE_SERIES(1, LEN(e.embedding)),
                     i -> CAST(e.embedding[i] AS DOUBLE) * pl.rv[i])),
                   (a, b) -> a + b) AS dot
          FROM embeddings e CROSS JOIN planes pl)
        GROUP BY vec_id),
      banded AS (
        SELECT vec_id, bb.g AS band_id, (sk >> (bb.g * 8)) & 255 AS band_val
        FROM sk, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS g) bb),
      kept AS (
        SELECT vec_id, band_id, band_val FROM (
          SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_val) AS n FROM banded)
        WHERE n <= 2048),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM kept a JOIN kept b
          ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
      scored AS (
        SELECT vec_a, vec_b,
               CASE WHEN den = 0 THEN 0.0 ELSE dot / den END AS cos
        FROM (
          SELECT c.vec_a, c.vec_b,
                 LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
                   LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ea.embedding)),
                     i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))),
                   (a, b) -> a + b) AS dot,
                 SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
                   LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ea.embedding)),
                     i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE))),
                   (a, b) -> a + b))
                 * SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
                   LIST_TRANSFORM(GENERATE_SERIES(1, LEN(eb.embedding)),
                     i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))),
                   (a, b) -> a + b)) AS den
          FROM cand c
          JOIN embeddings ea ON c.vec_a = ea.vec_id
          JOIN embeddings eb ON c.vec_b = eb.vec_id))
      SELECT vec_a, vec_b, cos FROM scored WHERE cos >= 0.2""",

    // exact integer arithmetic end-to-end (tf counts, integer dot
    // products, the cos ≥ 0.9 threshold as 100·dot² ≥ 81·n2a·n2b) →
    // hash-exact
    "d18_weighted_overlap" -> """
      WITH tk AS (SELECT doc_id, UNNEST(LIST_FILTER(STR_SPLIT(text, ' '), t -> t <> '')) AS term
                  FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
      norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1),
      dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b
      FROM dots JOIN norms na ON doc_a = na.doc_id JOIN norms nb ON doc_b = nb.doc_id
      WHERE 100 * dot * dot >= 81 * na.n2 * nb.n2""",

    // the 60-bit md5-domain simhash replicated bit-for-bit, then the
    // BRUTE-FORCE pair scan at hamming ≤ 3 — which equals the banded
    // candidate join because 4 disjoint bands make it complete for ≤ 3
    // differing bits (pigeonhole) and no fixture band bucket is capped
    "d04_simhash" -> """
      WITH th AS (
        SELECT doc_id, CAST('0x' || SUBSTRING(md5(tok), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''),
      bits AS (
        SELECT th.doc_id, b.j,
               CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
        FROM th, (SELECT UNNEST(RANGE(60)) AS j) b
        GROUP BY th.doc_id, b.j),
      sims AS (
        SELECT d.doc_id, CAST(COALESCE(SUM(bit), 0) AS BIGINT) AS simhash
        FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id
        GROUP BY d.doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM sims a JOIN sims b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

    // brute-force O(n²) ground truth — the neighborhood join must be
    // exactly sound AND complete for distance ≤ 1, so hash-equality
    // against the full pairwise scan proves the blocking theorem holds
    "d17_fuzzy_join" -> """
      SELECT a.c_name AS name_a, b.c_name AS name_b,
             CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      FROM customer a JOIN customer b
        ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1""",

    // winnowing replicated in SQL: k-gram hash = first 15 hex chars of md5
    // (the one hash both engines share; t07 precedent), window minima via
    // list slicing; GREATEST keeps both series bounds ≥ 1 for short docs
    // (one whole-text gram / one truncated window — WinnowOps' edge rule)
    "d16_substring_dup" -> """
      WITH aug AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0 THEN ' standard corpus boilerplate notice applies to this document and may be ignored' ELSE '' END AS t
        FROM documents),
      g AS (SELECT doc_id, LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(t) - 31, 1)),
              i -> CAST(CONCAT('0x', SUBSTRING(md5(SUBSTR(t, i, 32)), 1, 15)) AS BIGINT)) AS h
            FROM aug),
      f AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(h) - 7, 1)),
              i -> LIST_MIN(h[i:i+7])))) AS fp
            FROM g),
      -- plain COUNT, matching the Spark side: f is distinct on (doc_id, fp)
      -- by construction (LIST_DISTINCT per doc), so the two agree under any
      -- input — a COUNT(DISTINCT) here would silently diverge from Spark's
      -- count if a corpus ever carried duplicate doc_id rows
      d AS (SELECT fp, COUNT(*) AS df FROM f GROUP BY fp)
      SELECT doc_id, COUNT(*) AS n_fingerprints,
             CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_fps,
             (1000 * CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS dup_ratio_milli
      FROM f JOIN d USING (fp)
      GROUP BY doc_id""",

    // shingle construction mirrors the d08 oracle (string domain equals the
    // 64-bit hash domain up to ~2^-64 collisions)
    "d10_decontaminate" -> s"""
      WITH ${OracleShingleCtes},
      ev AS (SELECT doc_id AS eval_id, UNNEST(s) AS e FROM sh WHERE doc_id < 20),
      co AS (SELECT doc_id, UNNEST(s) AS e FROM sh WHERE doc_id >= 20)
      SELECT co.doc_id,
             CAST(COUNT(DISTINCT co.e) AS BIGINT) AS n_shared_shingles,
             CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
      FROM co JOIN ev ON co.e = ev.e
      GROUP BY co.doc_id
      HAVING COUNT(DISTINCT co.e) >= 3""",

    "d05_ngram_jaccard" -> exactJaccardOracle.format(300),

    "d01_dedup_exact" -> """
      SELECT MD5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1""",

    "d02_dedup_norm" -> """
      SELECT MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS text_hash,
             MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1""",

    "d06_dedup_keep_best" -> """
      SELECT text_hash, doc_id, n_chars
      FROM (
        SELECT MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS text_hash,
               doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents)
      WHERE rk = 1""",

    // Brute-force O(n²) exact-Jaccard oracle for d08. Shingle sets mirror
    // ShingleOps.shingleHashes in the string domain: 3-token windows,
    // distinct; <3-token docs contribute one whole-text shingle; empty docs
    // one sentinel. Jaccard over 64-bit shingle hashes equals Jaccard over
    // the string shingles (collisions are ~2^-64).
    "d08_jaccard_exact_join" -> s"""
      WITH ${OracleShingleCtes},
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               LEN(LIST_INTERSECT(a.s, b.s)) AS ni,
               LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s)) AS nu
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, (1000 * ni) // nu AS jaccard_milli
      FROM pairs
      WHERE (1000 * ni) // nu >= 500""",

    // the full pipeline oracle: d09's recursive-CTE components, extended to
    // the whole corpus (singletons = own id), then keep-best per component
    "d11_dedup_pipeline" -> s"""
      WITH RECURSIVE
      ${OracleShingleCtes},
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE (1000 * LEN(LIST_INTERSECT(a.s, b.s)))
              // (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= 500),
      edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
      nodes AS (SELECT DISTINCT doc_a AS id FROM edges),
      reach(src, node) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.node = e.doc_a),
      comp AS (SELECT src AS doc_id, MIN(node) AS component FROM reach GROUP BY src),
      lab AS (SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS component
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
      ranked AS (
        SELECT component, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY component) AS n_members
        FROM lab)
      SELECT component, doc_id AS keep_id, CAST(n_members AS BIGINT) AS n_members, n_chars
      FROM ranked
      WHERE rk = 1""",

    // brute-force bipartite oracle shared by BOTH incremental-ingest
    // entries: every incoming×seen pair at jaccard >= 0.5, best match per
    // incoming doc (max jaccard, ties to the lowest seen id). d12 reaches
    // it through the bloom prefilter, d19 through the persisted band
    // index — two prune strategies, one exact answer.
    "d12_bloom_incremental" -> incrementalBestMatchOracle,
    "d19_incremental_lsh" -> incrementalBestMatchOracle,

    // the full SemDeDup pipeline replayed — k-means training included (the
    // fixed-point centroid rule makes the quantizer bit-replayable; see
    // SimilarityQueries.assignCtes): shared IVF assignment, within-cluster
    // pairs, exact-cosine threshold, smaller-id representative
    "d15_semdedup" -> SimilarityQueries.semdedupOracle(16, 2),

    // exhaustive window table, packed-key earliest occurrence, span union,
    // and the index-aware rewrite replayed (1-based DuckDB lambda index)
    "d20_cross_doc_spans" -> """
      WITH d AS (SELECT doc_id, LIST_FILTER(STR_SPLIT(text, ' '), t -> t <> '') AS tk
                 FROM documents),
      w AS (SELECT d.doc_id, t.p,
                   CAST(CONCAT('0x', SUBSTRING(md5(ARRAY_TO_STRING(d.tk[t.p:t.p+9], ' ')), 1, 14)) AS BIGINT) AS h
            FROM d, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(d.tk) - 9, 0))) AS t(p)),
      f AS (SELECT h, MIN(doc_id * 4294967296 + p) AS fk FROM w GROUP BY h),
      r AS (SELECT w.doc_id, w.p FROM w JOIN f USING (h)
            WHERE w.doc_id * 4294967296 + w.p <> f.fk),
      cp AS (SELECT DISTINCT doc_id, cp
             FROM (SELECT doc_id, UNNEST(GENERATE_SERIES(p, p + 9)) AS cp FROM r)),
      rm AS (SELECT doc_id, LIST(cp) AS rm FROM cp GROUP BY doc_id)
      SELECT d.doc_id, CAST(LEN(d.tk) AS INT) AS n_tokens,
             CAST(COALESCE(LEN(rm.rm), 0) AS INT) AS n_removed,
             COALESCE(ARRAY_TO_STRING(LIST_FILTER(d.tk,
               (t, i) -> rm.rm IS NULL OR NOT LIST_CONTAINS(rm.rm, i)), ' '), '') AS clean_text
      FROM d LEFT JOIN rm USING (doc_id)""",


    // brute-force containment oracle: |A∩B| over the smaller set's size
    "d14_containment" -> s"""
      WITH ${OracleShingleCtes}
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             (1000 * LEN(LIST_INTERSECT(a.s, b.s))) // LEAST(LEN(a.s), LEN(b.s)) AS containment_milli
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE (1000 * LEN(LIST_INTERSECT(a.s, b.s))) // LEAST(LEN(a.s), LEN(b.s)) >= 800""",

    // cluster-atomic split: d09's recursive components extended to the whole
    // corpus, bucketed by md5 of the component representative
    "d13_leakage_free_split" -> s"""
      WITH RECURSIVE
      ${OracleShingleCtes},
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE (1000 * LEN(LIST_INTERSECT(a.s, b.s)))
              // (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= 500),
      edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
      nodes AS (SELECT DISTINCT doc_a AS id FROM edges),
      reach(src, node) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.node = e.doc_a),
      comp AS (SELECT src AS doc_id, MIN(node) AS component FROM reach GROUP BY src),
      lab AS (SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS component
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
      sp AS (SELECT n_chars,
                    CASE WHEN b % 100 < 80 THEN 'train'
                         WHEN b % 100 < 90 THEN 'val'
                         ELSE 'test' END AS split
             FROM (SELECT n_chars,
                          CAST(CONCAT('0x', SUBSTRING(md5(CAST(component AS VARCHAR)), 1, 4)) AS BIGINT) AS b
                   FROM lab))
      SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM sp
      GROUP BY split""",

    // connected components via recursive reachability: component = MIN doc
    // id reachable from each node over the (symmetrized) near-dup pairs
    "d09_dup_components" -> s"""
      WITH RECURSIVE
      ${OracleShingleCtes},
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE (1000 * LEN(LIST_INTERSECT(a.s, b.s)))
              // (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= 500),
      edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
      nodes AS (SELECT DISTINCT doc_a AS id FROM edges),
      reach(src, node) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.node = e.doc_a)
      SELECT src AS doc_id, MIN(node) AS component
      FROM reach
      GROUP BY src""",

    // d09's reachability oracle + per-component size: the alternating
    // algorithm must land on exactly the same min-id labels
    "d21_cc_alternating" -> s"""
      WITH RECURSIVE
      ${OracleShingleCtes},
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE (1000 * LEN(LIST_INTERSECT(a.s, b.s)))
              // (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= 500),
      edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
      nodes AS (SELECT DISTINCT doc_a AS id FROM edges),
      reach(src, node) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.node = e.doc_a),
      lab AS (SELECT src AS doc_id, MIN(node) AS component FROM reach GROUP BY src)
      SELECT doc_id, component,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM lab""",

    // brute-force replay: prefix filtering is exact, so the all-pairs
    // Jaccard at tau = 0.6 IS the spec (d08's shingling CTEs, tau 600)
    "d22_prefix_filter_join" -> s"""
      WITH ${OracleShingleCtes},
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               LEN(LIST_INTERSECT(a.s, b.s)) AS ni,
               LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s)) AS nu
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, (1000 * ni) // nu AS jaccard_milli
      FROM pairs
      WHERE (1000 * ni) // nu >= 600""",

    // the 8 peel rounds unrolled as chained CTEs (the q80 discipline —
    // recursive CTEs cannot aggregate over their recursive reference).
    // Every step CTE is AS MATERIALIZED: each a_i references a_{i-1}
    // TWICE (both endpoints), so DuckDB's default inlining would double
    // the plan per round — 2^8 copies of the whole pair join (q80's
    // chain is safe unmaterialized only because each step references its
    // predecessor once). alive_{i+1} = {v : deg within alive_i >= 2},
    // fixpoint by round 8
    "d23_dup_kcore" -> {
      val steps = (1 to 8).map { i =>
        s"""      a$i AS MATERIALIZED (SELECT e.v FROM e
           |        JOIN a${i - 1} x ON e.v = x.v JOIN a${i - 1} y ON e.u = y.v
           |        GROUP BY e.v HAVING COUNT(*) >= 2)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH ${OracleShingleCtes},
      pairs AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE (1000 * LEN(LIST_INTERSECT(a.s, b.s)))
              // (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= 500),
      e AS MATERIALIZED (SELECT doc_a AS v, doc_b AS u FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs),
      a0 AS MATERIALIZED (SELECT DISTINCT v FROM e),
$steps
      SELECT e.v AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
      FROM e JOIN a8 x ON e.v = x.v JOIN a8 y ON e.u = y.v
      GROUP BY e.v"""
    },

    // d08's exact-pair CTEs (tau 500) full-outer-joined to d04's replayed
    // SimHash pair set — the same two verified detectors, same sentinels
    "d24_detector_consensus" -> s"""
      WITH ${OracleTkCte},
      shl AS (SELECT doc_id,
                    CASE WHEN LEN(tk) = 0 THEN [CHR(1)]
                         WHEN LEN(tk) < 3 THEN [ARRAY_TO_STRING(tk, ' ')]
                         ELSE LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(tk) - 2),
                                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                    END AS s
             FROM tk),
      jp AS (
        SELECT doc_a, doc_b, jaccard_milli FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 (1000 * LEN(LIST_INTERSECT(a.s, b.s)))
                 // (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) AS jaccard_milli
          FROM shl a JOIN shl b ON a.doc_id < b.doc_id)
        WHERE jaccard_milli >= 500),
      th AS (
        SELECT doc_id, CAST('0x' || SUBSTRING(md5(tok), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''),
      bits AS (
        SELECT th.doc_id, b.j,
               CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
        FROM th, (SELECT UNNEST(RANGE(60)) AS j) b
        GROUP BY th.doc_id, b.j),
      sims AS (
        SELECT d.doc_id, CAST(COALESCE(SUM(bit), 0) AS BIGINT) AS simhash
        FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id
        GROUP BY d.doc_id),
      sp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
      SELECT COALESCE(jp.doc_a, sp.doc_a) AS doc_a,
             COALESCE(jp.doc_b, sp.doc_b) AS doc_b,
             CASE WHEN jp.jaccard_milli IS NOT NULL AND sp.hamming IS NOT NULL THEN 'both'
                  WHEN jp.jaccard_milli IS NOT NULL THEN 'jaccard_only'
                  ELSE 'simhash_only' END AS verdict,
             CAST(COALESCE(jp.jaccard_milli, -1) AS BIGINT) AS jaccard_milli,
             CAST(COALESCE(sp.hamming, -1) AS INT) AS hamming
      FROM jp FULL OUTER JOIN sp
        ON jp.doc_a = sp.doc_a AND jp.doc_b = sp.doc_b""",

    "d25_dup_telemetry" -> s"""
      WITH ${OracleTkCte},
      shl AS (SELECT doc_id,
                    CASE WHEN LEN(tk) = 0 THEN [CHR(1)]
                         WHEN LEN(tk) < 3 THEN [ARRAY_TO_STRING(tk, ' ')]
                         ELSE LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(tk) - 2),
                                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                    END AS s
             FROM tk),
      jp AS (
        SELECT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 (1000 * LEN(LIST_INTERSECT(a.s, b.s)))
                 // (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) AS jaccard_milli
          FROM shl a JOIN shl b ON a.doc_id < b.doc_id)
        WHERE jaccard_milli >= 500),
      near AS (
        SELECT DISTINCT doc_id FROM (
          SELECT doc_a AS doc_id FROM jp UNION ALL SELECT doc_b FROM jp)),
      d AS (
        SELECT doc_id, source, lang,
               COUNT(*) OVER (PARTITION BY md5(LOWER(text))) AS mult
        FROM documents)
      SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN mult > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
             CAST(SUM(CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
             CAST((1000 * SUM(CASE WHEN mult > 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS exact_milli,
             CAST((1000 * SUM(CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS near_milli
      FROM d LEFT JOIN near ON d.doc_id = near.doc_id
      GROUP BY source, lang""",

    // the deterministic 20% doc_id-hash slice replays the Spark side's
    // sample predicate exactly (md5-prefix idiom, BUILD_NOTES)
    "d26_minhash_estimator_audit" -> """
      WITH d AS (SELECT doc_id, LIST_FILTER(STR_SPLIT(text, ' '), t -> t <> '') AS tk FROM documents
                 WHERE CAST('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 5 < 1),
      shl AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(tk)-2),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        FROM d WHERE LEN(tk) >= 3),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shl GROUP BY 1),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ni
        FROM shl a JOIN shl b USING (sh)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pj AS (
        SELECT doc_a, doc_b,
               (1000 * ni) // (sa.sz + sb.sz - ni) AS jaccard_milli
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b),
      perms AS (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS p),
      sig AS MATERIALIZED (
        SELECT doc_id, p,
               MIN(CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(p, ':', sh)), 1, 14)) AS BIGINT)) AS mh
        FROM shl CROSS JOIN perms GROUP BY 1, 2),
      est AS (
        SELECT pj.doc_a, pj.doc_b, pj.jaccard_milli,
               (1000 * SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)) // 32 AS est_milli
        FROM pj
        JOIN sig sa ON sa.doc_id = pj.doc_a
        JOIN sig sb ON sb.doc_id = pj.doc_b AND sb.p = sa.p
        GROUP BY 1, 2, 3)
      SELECT CAST(jaccard_milli // 100 AS INT) AS decile,
             COUNT(*) AS n_pairs,
             CAST(SUM(jaccard_milli) // COUNT(*) AS BIGINT) AS mean_exact_milli,
             CAST(SUM(est_milli) // COUNT(*) AS BIGINT) AS mean_est_milli
      FROM est GROUP BY 1"""
  )
}
