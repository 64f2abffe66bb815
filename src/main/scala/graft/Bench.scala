package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.QueryDsl.readParquet

/** Benchmark main. Emits ONE compact machine-parseable JSON line as the
  * LAST stdout line — the driver keeps only the last ~2000 chars of the
  * run's stdout (stderr interleaved), so the line is FIXED-SIZE: totals,
  * a fixed headline panel (one representative per family, short ids),
  * and a pointer to `bench_details.json`, which carries every inventory
  * entry with full names, full precision, and per-entry
  * spill/GC/peak-mem telemetry (committed per round; see [[EntryStats]]).
  *
  * Two tiers:
  *   - the full inventory at SPARK_GRAFT_SF_DIR (three rotated passes,
  *     min per query: pass 1 absorbs codegen + JIT, passes 2-3 are
  *     steady-state);
  *   - a "heavy" tier (disable with SPARK_GRAFT_HEAVY=0): the heaviest
  *     queries on a synthetic 10× scale-up of documents/embeddings, because
  *     sf0.1 is overhead-dominated (~0.3-0.5 s/query floor) and plan
  *     regressions on the quadratic-ish operators hide in that noise. The
  *     scale-up is faithful, not a naive union of copies: each copy's
  *     tokens are prefixed per copy, so shingles are DISJOINT across copies
  *     — document frequencies and the near-dup cluster structure match a
  *     real 10× corpus (a plain union would multiply every df by 10 and
  *     quadratically inflate the inverted-index joins instead).
  */
object Bench {

  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** One completed stage, in the listener's raw units (ns, ms, bytes), so
    * the entry totals derived from it round exactly as the sums did. */
  private[graft] case class StageRecord(id: Int, name: String, wallMs: Long, cpuNs: Long,
      gcMs: Long, shufReadBytes: Long, shufWriteBytes: Long, spillBytes: Long,
      peakBytes: Long, tasks: Int, recRead: Long, shufRec: Long)

  private[graft] object StageRecord {
    def apply(si: org.apache.spark.scheduler.StageInfo): StageRecord = {
      val m = si.taskMetrics
      StageRecord(si.stageId, si.name.takeWhile(_ != '\n').take(70),
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory, si.numTasks, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten)
    }
  }

  /** How many of an entry's stages, longest wall first, its details carry. */
  private[graft] val TopStages = 6

  /** One measured sample of an entry: wall seconds plus the telemetry that
    * makes a cross-environment swing ADJUDICABLE from the artifact (r12
    * verdict item 2 — ten rounds of "burst or structure?" on s11/d22 were
    * the cost of recording wall time alone). Every attribution column is
    * an aggregation of the entry's [[StageRecord]]s (see `fromStages`):
    *   - cpuSec: Σ executor CPU over the entry's stages — the decisive
    *     discriminator for a cross-environment wall swing: same cpu_s at
    *     2-3× the wall = the container was CPU-throttled/contended (the
    *     r12 d22 suspicion); cpu_s tracking wall = the work itself grew;
    *   - spillMb: Σ (memory+disk) bytes spilled over the entry's stages —
    *     nonzero means a structural memory problem, not contention;
    *   - gcMs: Σ executor JVM GC time — a contention burst shows high
    *     wall with flat gc/spill, a heap problem shows gc tracking wall;
    *   - peakMemMb: max over stages of the stage's summed per-task
    *     execution-memory peaks — the entry's worst concurrent
    *     execution-memory demand (sum across tasks, so it can exceed the
    *     heap when tasks don't overlap; compare round-over-round, not
    *     against the heap size);
    *   - recRead / shufRec / shufMb: source records read, shuffle records
    *     written, shuffle MB written over the entry's stages — WORK
    *     counters (r13 verdict item 2). Unlike cpu_s — itself inflatable
    *     by cache-miss CPI under memory-bandwidth contention on
    *     allocation-heavy entries (the s11 class) — record counts are
    *     invariant under ANY environment, so "did the operator do the
    *     same work?" is a pure artifact lookup;
    *   - rows: the entry's output row count (the count() result) — work,
    *     not telemetry, so it is trustworthy even when a drain failed;
    *   - attrSec: the wall seconds of the PASS the attribution columns
    *     were measured in. Equal to `sec` when the min pass itself was
    *     attributed; the fastest attributed pass's wall when the min pass
    *     had a drain failure (see minOk); -1 when no pass was attributed;
    *   - stages: the [[TopStages]] stages of that pass with the longest
    *     wall, longest first — where the entry's time went.
    * The attribution columns (cpuSec..shufMb) are -1 and `stages` is empty
    * when a listener-bus drain failed around the measurement (see
    * `timed`): the wall time stays trustworthy, the attribution does not. */
  private[graft] case class EntryStats(sec: Double, cpuSec: Double, spillMb: Long,
      gcMs: Long, peakMemMb: Long, recRead: Long, shufRec: Long, shufMb: Long,
      rows: Long, attrSec: Double, stages: Seq[StageRecord] = Nil)

  private[graft] object EntryStats {
    def fromStages(sec: Double, rows: Long, recs: Seq[StageRecord]): EntryStats =
      EntryStats(sec, math.round(recs.map(_.cpuNs).sum / 1e6) / 1e3,
        recs.map(_.spillBytes).sum >> 20, recs.map(_.gcMs).sum,
        recs.map(_.peakBytes).foldLeft(0L)(math.max) >> 20, recs.map(_.recRead).sum,
        recs.map(_.shufRec).sum, recs.map(_.shufWriteBytes).sum >> 20, rows, sec,
        recs.sortBy(-_.wallMs).take(TopStages))
  }
  private val Failed = EntryStats(-1.0, 0.0, 0L, 0L, 0L, 0L, 0L, 0L, -1L, -1.0)
  /** A build line's row count: it has no single result cardinality. */
  private val NoRows: () => Long = () => -1L

  /** Keeps one [[StageRecord]] per stage completed between reset() and
    * snap(). Registered once; reset per timed entry after a listener-bus
    * drain, so attribution follows entry boundaries. */
  private[graft] final class Telemetry extends org.apache.spark.scheduler.SparkListener {
    private val done = scala.collection.mutable.ArrayBuffer[StageRecord]()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val r = StageRecord(sc.stageInfo)
      synchronized { done += r }
    }
    def reset(): Unit = synchronized { done.clear() }
    def records: Seq[StageRecord] = synchronized { done.toList }
    /** `drained` false = a bus drain around the interval failed: wall
      * and rows are kept, the attribution columns read -1. */
    def snap(sec: Double, rows: Long, drained: Boolean): EntryStats =
      if (drained) EntryStats.fromStages(sec, rows, records)
      else EntryStats(sec, -1.0, -1L, -1L, -1L, -1L, -1L, -1L, rows, -1.0)
  }

  /** "q01_pricing_summary" -> "q01" — unique across the inventory (asserted
    * below), and the id scheme CORRECTNESS/COVERAGE already key on. */
  private def shortId(name: String): String = name.takeWhile(_ != '_')

  /** A stage record in the units a reader compares: ms and MB. */
  private[graft] def stageJson(r: StageRecord): String = {
    val name = r.name.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }
    s"""{"stage":${r.id},"name":"$name","wall_ms":${r.wallMs},""" +
      s""""cpu_ms":${r.cpuNs / 1000000},"gc_ms":${r.gcMs},""" +
      s""""shuffle_read_mb":${r.shufReadBytes >> 20},"shuffle_write_mb":${r.shufWriteBytes >> 20},""" +
      s""""spill_mb":${r.spillBytes >> 20},"peak_mem_mb":${r.peakBytes >> 20},""" +
      s""""tasks":${r.tasks},"records_read":${r.recRead},"shuffle_records":${r.shufRec}}"""
  }

  private def jsonMap(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** Length cap of the one-line summary: whoever parses a run reads only
    * the tail of stdout, and the headline panel is fixed-size, so a longer
    * line means a structural change. */
  private[graft] val SummaryCap = 1500

  /** The one-line JSON summary from (field, JSON value) pairs. Past
    * [[SummaryCap]] it drops `heavy_cpu_s` (bench_details.json carries the
    * same numbers) and warns on stderr: a finished multi-hour run must not
    * abort while it writes its report. */
  private[graft] def summaryLine(fields: Seq[(String, String)]): String = {
    def join(fs: Seq[(String, String)]) =
      fs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val full = join(fields)
    if (full.length <= SummaryCap) full
    else {
      val short = join(fields.filterNot(_._1 == "heavy_cpu_s"))
      System.err.println(s"[bench] WARNING: summary line is ${full.length} chars, over the " +
        s"$SummaryCap cap; dropped heavy_cpu_s (see the details file), now ${short.length} chars")
      short
    }
  }

  /** Fixed-work CPU calibration (r14 verdict item 4): a Spark-free,
    * allocation-light, CACHE-RESIDENT 64-bit mixing spin over a 64 KB
    * constant buffer, timed in THREAD-CPU seconds for a constant iteration
    * count. The work is bit-identical every run, so the reading measures
    * the window's common-mode hotness — frequency scaling and SMT/steal
    * contention, which inflate thread-CPU time exactly like they inflate
    * the entries' executor cpu_s — while staying deliberately INSENSITIVE
    * to the cache-miss CPI pressure only the allocation-dense entries feel
    * (that residual is what the CPI_FRAGILE tags are for).
    * tools/adjudicate_bench.py divides the two artifacts' calib_cpu_s and
    * normalizes every cpu ratio by it before applying the reopen bands,
    * turning "the whole window ran hot" from an inference over Σcpu_s into
    * a per-artifact measurement. */
  private val CalibIters = 400000000L // measured ~2.0 s quiet on this container
  private def calibSpin(): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val buf = new Array[Long](8192) // 64 KB — L2-resident by design
    var i = 0
    while (i < buf.length) { buf(i) = 0x9E3779B97F4A7C15L * (i + 1); i += 1 }
    var x = 0x9E3779B97F4A7C15L
    var j = 0L
    val t0 = bean.getCurrentThreadCpuTime
    while (j < CalibIters) {
      x ^= buf(((x >>> 17) & 8191L).toInt)
      x *= 0xFF51AFD7ED558CCDL
      x ^= x >>> 33
      j += 1
    }
    val sec = (bean.getCurrentThreadCpuTime - t0) / 1e9
    // the state feeds an (unreachable) side effect so the JIT cannot
    // dead-code the spin; 0 is not a fixed point of the mix above
    if (x == 0L) System.err.println("calib: impossible zero state")
    math.round(sec * 1000) / 1000.0
  }

  /** Synthetic 10× documents+embeddings under a temp dir (removed on JVM
    * exit). Copy i shifts ids by i·10^8 and prefixes every non-leading
    * token with "c{i}" so cross-copy docs share no shingles. */
  private def buildHeavyDir(spark: SparkSession, sfDir: String, copies: Int): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-10x")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.Files
      if (Files.exists(tmp)) {
        Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { Files.deleteIfExists(p); () })
      }
    }))
    // r21 (guide §2.6 — overlap independent jobs): the six table writes
    // are independent, so they run concurrently from driver threads and
    // back-fill each other's task tails instead of idling the cluster
    // between sequential write jobs. Each table's construction is
    // UNCHANGED (same per-copy union, same partitioning, same file
    // layout), so the heavy corpus is bit-identical to r20's and every
    // downstream scan splits exactly as before — this is untimed setup
    // wall only. (A single-scan exploded-copy form was considered per
    // guide §6 and rejected: it collapses the 10-partition union layout
    // to one output file, changing every heavy entry's scan parallelism —
    // a corpus-layout change masquerading as a build speedup.)
    def writeDocs(): Unit = {
      val docs = readParquet(spark, s"$sfDir/documents.parquet")
      (0 until copies).map { i =>
        val text = if (i == 0) col("text") else regexp_replace(col("text"), lit(" "), lit(s" c$i"))
        docs.select((col("doc_id") + lit(i * 100000000L)).as("doc_id"), text.as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    }
    def writeEmb(): Unit = {
      val emb = readParquet(spark, s"$sfDir/embeddings.parquet")
      (0 until copies).map { i =>
        emb.select((col("vec_id") + lit(i * 100000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve("embeddings.parquet").toString)
    }
    // the join/window/as-of families need their tables too. KEY columns
    // shift per copy so join fan-out and per-group populations scale like
    // a real 10× corpus — shared key values would instead multiply join
    // multiplicity by `copies` and quadratically inflate the join tier.
    def scaled(table: String, keyCols: String*): Unit = {
      val df = readParquet(spark, s"$sfDir/$table.parquet")
      (0 until copies).map { i =>
        keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * 100000000L)))
      }.reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve(s"$table.parquet").toString)
    }
    val jobs: Seq[(String, () => Unit)] = Seq(
      "documents" -> (() => writeDocs()),
      "embeddings" -> (() => writeEmb()),
      "orders" -> (() => scaled("orders", "o_orderkey", "o_custkey")),
      "lineitem" -> (() => scaled("lineitem", "l_orderkey", "l_suppkey")),
      "customer" -> (() => scaled("customer", "c_custkey")),
      "events" -> (() => scaled("events", "event_id", "user_id")))
    // blocking: each build waits on Spark jobs, so the global pool may add
    // threads instead of starving other work queued on it
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(jobs) { case (table, j) =>
      Future(blocking(SparkEntry.withCallSite(spark, s"heavy_corpus $table")(j())))
    }, Duration.Inf)
    tmp.toString
  }

  /** The 10× tier's members: the quadratic-ish dedup/text operators whose
    * plan regressions hide in the sf0.1 overhead floor, PLUS one
    * representative per core family (join / window / as-of) so a
    * regression there cannot hide either (the r6-verdict ask). */
  private val HeavyNames = Seq(
    "d03_minhash_lsh", "d08_jaccard_exact_join", "d09_dup_components",
    "d11_dedup_pipeline", "d12_bloom_incremental", "d13_leakage_free_split",
    "d14_containment", "d15_semdedup", "d16_substring_dup", "t08_doc_top_terms",
    "s01_knn_brute", "s05_kmeans_ivf",
    "q03_shipping_priority", "q07_window_topk", "q08_running_sum", "q38_asof_join",
    // iterative / graph newcomers (r7): vocab-sized state but corpus-driven
    // edge weights — superlinear blow-ups would hide in the sf0.1 floor.
    // s10 stays OUT: its 10× brute force is quadratic BY DESIGN (the exact
    // baseline); its scale path is s11 — which therefore must be IN: a
    // superlinear regression in the IVF probe join would hide in the
    // sf0.1 floor while s11 carries the whole kNN-graph scale story.
    "q80_textrank", "q82_triangle_count", "t20_bpe_learn", "d20_cross_doc_spans",
    // r9: the corpus-scale BPE encode (vocab fan-out × corpus lookup
    // join — a superlinear regression in either would hide in the sf0.1
    // floor the same way t20's would)
    "t22_bpe_encode",
    "s11_knn_graph_ivf",
    // r9: inverted-index retrieval — the posting build + per-(query,doc)
    // scoring join both grow with the corpus; a superlinear regression
    // would hide in the sf0.1 floor
    "q88_bm25_search",
    // r9: alternating-CC is the graph-dedup scale path (log² rounds over a
    // corpus-driven edge list) — its per-round shuffles grow with the pair
    // graph while the sf0.1 run is latency-floored
    "d21_cc_alternating",
    // r9: the end-to-end pipeline — five chained stages over documents;
    // a superlinear regression in any stage's wiring (dedup window,
    // decontamination probe, packing windows) shows here first
    "p01_training_mix",
    // r9: the prefix-filtered exact-similarity join — candidate volume is
    // Σ df_prefix², which grows with the corpus exactly like d08's full
    // inverted index; a regression in the prefix cut would be invisible
    // at the sf0.1 floor
    "d22_prefix_filter_join",
    // r10: the incremental-ingest pipeline — its base-vs-arrival shingle
    // posting join grows with the corpus like d10's decontamination probe
    "p03_incremental_ingest")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus.toInt)
    // ERROR, not WARN: the driver's 2000-char stdout tail interleaves
    // stderr (sbt prefixes it "[error] ..."), and late WARN spam (e.g.
    // "RDD was locally checkpointed" during unpersist) buried the
    // machine-readable line entirely in BENCH_r09
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/session warmup so the first timed query doesn't absorb
    // executor-pool startup, file-index listing, or first-job codegen costs
    spark.range(1000).selectExpr("sum(id)").collect() // bounded: 1 row by aggregation
    Seq("documents", "lineitem", "orders", "events", "embeddings").foreach { t =>
      try readParquet(spark, s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => }
    }
    val names = SparkEntry.queries.keys.toSeq
    require(names.map(shortId).distinct.size == names.size,
      "short query ids must stay unique — rename the colliding query")
    // fixed-work calibration samples: one before the main passes, one
    // between the tiers, one at the end — the MEDIAN goes out as
    // calib_cpu_s (robust to a single burst landing on one sample), the
    // raw samples ride along for diagnosis
    val calibSamples = scala.collection.mutable.ArrayBuffer[Double]()
    calibSamples += calibSpin()
    // optional comma-separated name-prefix filter for focused timing runs
    // (e.g. SPARK_GRAFT_ONLY=d08,d09); absent = full inventory. ONE
    // in-scope rule shared by the main tier, zpanel_build, and the heavy
    // tier (r14 review: three restatements had already started drifting)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def inScope(name: String): Boolean = only.forall(_.exists(name.startsWith))
    val telemetry = new Telemetry
    spark.sparkContext.addSparkListener(telemetry)
    // false = the bus did not drain (timeout or any other bus error):
    // attribution for the adjoining entry is compromised — surfaced via
    // the -1 telemetry sentinel below, never silently mis-attributed
    def drainBus(): Boolean =
      try org.apache.spark.sql.graft.ListenerBusDrain.drain(spark.sparkContext)
      catch { case _: Throwable => false }
    // The ONE timing protocol both the per-query path and dshared_build
    // use (r13 review: the build path had copy-pasted it and drifted).
    // Telemetry infrastructure must never change the MEASUREMENT verdict:
    // the body's failure is the only thing that reports Failed; a drain
    // problem keeps the wall time and replaces the attribution columns
    // with -1 sentinels ("don't trust these four numbers"), because a
    // timed-out PRE-drain would otherwise sum a prior entry's straggler
    // stages into this one — over-attribution, the exact misadjudication
    // this telemetry exists to prevent.
    // Only body is on the clock. It returns the entry's output row count
    // as a thunk that runs AFTER the clock stops, so waiting for a metric
    // to arrive is never timed (NoRows for build lines, which have no
    // single result cardinality).
    def timed(name: String)(body: => () => Long): EntryStats = {
      val pre = drainBus() // a prior entry's stragglers must not leak in
      telemetry.reset()
      val t0 = System.nanoTime()
      // a failed query must NOT masquerade as a fast success: report -1
      // (kept out of the total below) so a broken query reads as broken
      // in round-over-round compares instead of as a huge speedup
      val rowsOpt =
        try {
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          Some((sec, rows()))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        }
      rowsOpt match {
        case None => Failed
        case Some((sec, rows)) =>
          telemetry.snap(sec, rows, drained = pre && drainBus())
      }
    }
    // The timed ACTION is a noop-sink write, not count() (r20 measurement
    // fix, guide §1.4). count() lets the optimizer prune every column a
    // Project computes (a projection never changes cardinality), so the
    // map-only entries — the text/multimodal expression pipelines whose
    // WHOLE cost is the projection — were being timed hollow: measured
    // r20, t17_gopher_repetition 0.01 cpu_s under count() vs 6.24 under
    // the noop sink (623×), t15_pii_redact 0.04 vs 0.60 (14×), while
    // agg/join-rooted entries are count-invariant (their work is below an
    // operator that count cannot prune through). The noop sink computes
    // EVERY column of EVERY row and discards it — the cost a real sink
    // pays, minus the sink. Entries' `rows` (the output-cardinality work
    // counter) now rides an `observe(count(1))` node at the plan root:
    // one counter bump per output row inside the timed region (honest —
    // any sink touches every row), no second execution, no pruning
    // side-channel. Old-methodology numbers are preserved in
    // OPTIMIZATION_r20.md / BUILD_NOTES r20 for cross-round comparison;
    // round-over-round adjudication is unaffected because both sides of
    // every driver compare run the same protocol.
    def time(name: String, fn: (SparkSession, String) => DataFrame, dir: String): EntryStats =
      timed(name) {
        val obs = org.apache.spark.sql.Observation()
        fn(spark, dir).observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        // The clock stops here, when save() returns. The CollectMetrics
        // result arrives via the async listener bus, so an unbounded
        // obs.get would HANG the whole bench on a dropped or stalled event
        // — and timed()'s Throwable catch cannot rescue a hang, only an
        // exception (r20 ADVICE). The metric is normally available
        // immediately; poll getOrEmpty briefly, outside the clock, and
        // surface a drop as rows = -1 (the same "don't trust this column"
        // sentinel the build lines use) instead of blocking forever.
        () => {
          import org.apache.spark.sql.graft.ListenerBusDrain.observed
          var waitedMs = 0
          var m = observed(obs)
          while (m.isEmpty && waitedMs < 10000) {
            Thread.sleep(50)
            waitedMs += 50
            m = observed(obs)
          }
          m.get("rows") match {
            case Some(n: Long) => n
            case _ =>
              System.err.println(s"[bench] $name: observe metric not delivered in 10 s")
              -1L
          }
        }
      }
    // a transiently-failed pass must not poison the min (math.min(v, -1)
    // would report a healthy query as broken): take the min over the
    // non-negative samples, and report -1 only when EVERY pass failed.
    // `sec` is ALWAYS the true minimum wall over the surviving samples —
    // the min contract the header documents (the r13 formulation let an
    // attributed pass within 10% displace the min, so round-over-round
    // compares could swing on which pass drained the bus, r13 advice).
    // When the min pass itself had a drain failure, the telemetry columns
    // come from the fastest ATTRIBUTED pass instead, with attrSec naming
    // the wall they belong to — adjudicability kept, min contract intact.
    def minOk(samples: EntryStats*): EntryStats = {
      val ok = samples.filter(_.sec >= 0)
      if (ok.isEmpty) Failed
      else {
        val best = ok.minBy(_.sec)
        if (best.cpuSec >= 0) best
        else ok.filter(_.cpuSec >= 0).minByOption(_.sec) match {
          case Some(a) => best.copy(cpuSec = a.cpuSec, spillMb = a.spillMb,
            gcMs = a.gcMs, peakMemMb = a.peakMemMb, recRead = a.recRead,
            shufRec = a.shufRec, shufMb = a.shufMb, attrSec = a.sec, stages = a.stages)
          case None => best
        }
      }
    }
    // Pass 2 runs the inventory ROTATED BY HALF: a container contention
    // burst then hits a different stretch of the inventory in each pass,
    // so no single query can read as a phantom regression from one burst
    // landing on it twice (the r6 q38 "2.6×" artifact). Rotation — not
    // reversal — because shared intermediates (the d-family shingle/
    // signature/pair tables) are built by the first family member to run:
    // reversal would run d08 AFTER d09/d11 built its pair table and its
    // "min" would measure marginal cost, not the operator (observed:
    // 2.1 s → 0.097 s). A half-rotation keeps every family's internal
    // order, so per-query amortization semantics match pass 1 exactly.
    def rotateBy[A](xs: Seq[A], k: Int): Seq[A] = xs.drop(k) ++ xs.take(k)
    // pass p of 3 starts p·n/3 of the way round the tier — the heavy
    // tier's thirds idiom. Thirds stay DISTINCT for every n ≥ 3 where
    // halves/quarters degenerate (n/4 = 0 made pass 3 repeat pass 1's
    // exact order on small focused scopes — r15 review); below 3 entries
    // rotation is meaningless and duplicates are unavoidable.
    def runAll(pass: Int): Seq[(String, EntryStats)] = {
      val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => inScope(n) }
      (if (ordered.isEmpty) ordered
       else rotateBy(ordered, pass * ordered.size / 3))
        .map { case (name, fn) => name -> time(name, fn, sfDir) }
    }
    // z01's three eager-checkpoint panel members (q80/q82/d16) execute
    // their checkpoints at CONSTRUCTION time — real construction cost, but
    // it was landing inside z01's wall and muddying the one entry that
    // benches the lineage engine itself (r13 verdict item 4). Build them
    // ONCE here as an explicitly timed line (the dshared_build pattern):
    // SparkEntry memoizes the constructed members, so both z01 passes
    // below measure graph ANALYSIS, with construction its own number.
    val zbuild: Seq[(String, EntryStats)] =
      if (!inScope("z01_lineage_extraction")) Seq.empty
      else Seq("zpanel_build" -> timed("zpanel_build") {
        SparkEntry.prewarmLineagePanel(spark, sfDir)
        NoRows
      })
    // r15 (r14 verdict item 2): force-build the shared + cross-pass
    // memoized artifacts BEFORE each timed main pass, as an explicitly
    // timed "shared_build" line — the heavy tier's dshared_build pattern
    // applied to the main tier. Scope comes from the consumer sets the
    // query objects maintain next to their builders, so a focused run
    // never pays an unused build. Pass 1's line additionally pays the
    // once-per-corpus trainer/index memos (ivfPivots & friends are NOT
    // released between passes — by design: they model offline-trained
    // artifacts), so the line's own min lands on pass 2's rebuild of the
    // per-pass sharedDf tables; what matters is that every INVENTORY
    // entry now does identical marginal work in every pass, making its
    // work counters pass-invariant (the r14 d15 adjudication false
    // positive: whichever pass trained ivfPivots inside d15's build won
    // or lost the min and records_read flipped 2064 <-> 6067).
    import graft.queries.{DedupQueries, SimilarityQueries}
    def mainSharedBuild(): Seq[(String, EntryStats)] = {
      import DedupQueries.{SharedPairConsumers, SharedShingleConsumers, SharedSigConsumers}
      val scoped = names.filter(inScope)
      val withShingles = scoped.exists(SharedShingleConsumers)
      val withSem = scoped.exists(DedupQueries.SemdedupConsumers)
      val withLsh = scoped.exists(DedupQueries.LshIndexConsumers)
      val withMemos = SimilarityQueries.MemoConsumers.values.exists(_.exists(inScope))
      if (!withShingles && !withSem && !withLsh && !withMemos) Seq.empty
      else Seq("shared_build" -> timed("shared_build") {
        if (withShingles) DedupQueries.prewarmShared(spark, sfDir,
          scoped.exists(SharedPairConsumers), scoped.exists(SharedSigConsumers))
        if (withLsh) DedupQueries.prewarmLshIndex(spark, sfDir)
        if (withSem) DedupQueries.prewarmSemdedup(spark, sfDir)
        SimilarityQueries.prewarmMemos(spark, sfDir, inScope)
        NoRows
      })
    }
    // THREE passes, report the min per query (r15 — was two): pass 1
    // absorbs per-plan codegen and JIT compilation, passes 2-3 measure
    // steady-state execution — the regime a long-lived cluster session
    // actually runs in. Why three: with min-of-2, one pass IS the steady
    // sample, and an entry whose JIT tier-up lost the race in that single
    // pass reports a hot value for the whole run — measured same-tree
    // same-day spreads of up to 2.5× on the TypedImperativeAggregate
    // entries (s10 19.5 vs 7.7 cpu_s, q105 14.2 vs 7.9) AFTER the
    // generated-class cache fix removed the codegen-eviction component.
    // A third rotated pass gives every entry two steady chances; the
    // heavy tier has used min-of-3 since r12 for the same reason. Caches
    // are released between passes so every pass re-executes (warm JIT,
    // cold data), and each pass runs a distinct rotation so no entry sees
    // the same neighbors twice.
    val build1 = mainSharedBuild()
    val first = runAll(pass = 0)
    def releaseBetweenPasses(): Unit = {
      // drop caches persisted by the prior pass (shingle/signature/pair
      // tables): the min must measure re-execution with warm JIT, not
      // cache scans
      graft.queries.DedupQueries.releaseShared()
      spark.catalog.clearCache()
    }
    releaseBetweenPasses()
    val build2 = mainSharedBuild().toMap
    val secondByName = runAll(pass = 1).toMap
    releaseBetweenPasses()
    val build3 = mainSharedBuild().toMap
    val thirdByName = runAll(pass = 2).toMap
    def min3(k: String, v: EntryStats, p2: Map[String, EntryStats],
        p3: Map[String, EntryStats]): EntryStats =
      minOk(minOk(v, p2.getOrElse(k, v)), p3.getOrElse(k, v))
    val results = zbuild ++
      build1.map { case (k, v) => k -> min3(k, v, build2, build3) } ++
      first.map { case (k, v) => k -> min3(k, v, secondByName, thirdByName) }
    calibSamples += calibSpin()
    // heavy tier: one pass (JIT is warm by now) on the synthetic 10× corpus.
    // SPARK_GRAFT_ONLY normally skips the tier (focused main-tier runs);
    // setting SPARK_GRAFT_HEAVY=1 explicitly keeps it, filtered to the
    // same names — the dev loop for iterating on one heavy entry.
    val heavy: Seq[(String, EntryStats)] =
      if (sys.env.get("SPARK_GRAFT_HEAVY").contains("0") ||
        (only.nonEmpty && !sys.env.get("SPARK_GRAFT_HEAVY").contains("1"))) Seq.empty
      else {
        val heavyDir = buildHeavyDir(spark, sfDir, copies = 10)
        // MIN-OF-THREE (the main tier matched it in r15): heavy samples on
        // a shared container swing up to ±50% under contention bursts
        // (BUILD_NOTES "heavy-tier noise caveat"), and with only two
        // samples a burst that straddles both passes still published 2×
        // phantom regressions round-over-round (r7/r8 verdicts: t20/d15/
        // d08 swings that never reproduced). Three passes, each starting a
        // THIRD of the way round the tier, make a burst that poisons the
        // same query in all surviving samples need to span the whole tier
        // three times over. The dedup family's shared intermediates are
        // prewarmed per pass as their own timed line (below), so rotation
        // no longer changes any entry's amortization — every family entry
        // is uniformly marginal-cost.
        def heavyPass(third: Int): Seq[(String, EntryStats)] = {
          graft.queries.DedupQueries.releaseShared()
          spark.catalog.clearCache()
          val ordered = HeavyNames.filter(SparkEntry.queries.contains).filter(inScope)
          // the dedup family shares persisted intermediates (shingle/
          // signature/pair tables). Build them ONCE per pass as an
          // explicitly timed "dshared_build" line, so every family entry
          // below measures MARGINAL cost uniformly — before this,
          // whichever member ran first paid the build and round-over-
          // round compares of the rest were apples-to-oranges (r9
          // verdict item 3; d08 3.5 s → 0.12 s was cache placement).
          // Scope comes from DedupQueries' own consumer sets, so a
          // focused run of a non-consumer (p03, d16, s11…) never pays
          // an unused build, and the pair table — the expensive
          // artifact — builds only when a pair consumer is in scope.
          import graft.queries.DedupQueries.{SharedPairConsumers, SharedShingleConsumers, SharedSigConsumers}
          val inHeavy = ordered.toSet
          val withShingles = ordered.exists(SharedShingleConsumers)
          val withSem = ordered.exists(DedupQueries.SemdedupConsumers)
          val withMemos = SimilarityQueries.MemoConsumers.values.exists(_.exists(inHeavy))
          val sharedBuild: Seq[(String, EntryStats)] =
            if (!withShingles && !withSem && !withMemos) Seq.empty
            else {
              val withPairs = ordered.exists(SharedPairConsumers)
              // signature table only when an LSH bander is in scope — a
              // shingle-only focused run (e.g. d22) skips the unused
              // 32-perm build (r11 advice)
              val withSigs = ordered.exists(SharedSigConsumers)
              Seq("dshared_build" -> timed("dshared_build") {
                if (withShingles)
                  graft.queries.DedupQueries.prewarmShared(spark, heavyDir, withPairs, withSigs)
                // r15: d15's assignment table and the ANN trainer memos get
                // the same per-pass force-build as the shingle trio — heavy
                // d15/s11 had the exact pass-dependent-counter exposure the
                // main tier's r14 false positive came from
                if (withSem) graft.queries.DedupQueries.prewarmSemdedup(spark, heavyDir)
                SimilarityQueries.prewarmMemos(spark, heavyDir, inHeavy)
                NoRows
              })
            }
          sharedBuild ++ rotateBy(ordered, third * ordered.size / 3)
            .map { n =>
              // level the memory playing field before each measurement:
              // the iterative queries (q80) leave localCheckpoint RDD
              // blocks whose release waits on driver GC (ContextCleaner
              // works off reference queues), and s11's multi-second
              // allocation burst reshapes the heap for whatever runs
              // next — both showed up as min-of-N heavy samples drifting
              // 1.5-1.8× BETWEEN runs while within-run samples agreed
              n -> { System.gc(); time(n, SparkEntry.queries(n), heavyDir) }
            }
        }
        val h1 = heavyPass(0).toMap
        val h2 = heavyPass(1).toMap
        val r = heavyPass(2)
          .map { case (k, v) =>
            k -> minOk(v, h1.getOrElse(k, v), h2.getOrElse(k, v)) }
          .sortBy(_._1)
        graft.queries.DedupQueries.releaseShared()
        spark.catalog.clearCache()
        r
      }
    // lineage-engine throughput as a TRACKED number (plain + contracted
    // plans/sec): z01's wall-clock line also pays DataFrame construction
    // and a driver thread pool, so a graph-analysis regression hides in
    // it; this times FlowAnalysis.analyze (plus contract) alone over
    // already-optimized plans — the audit listener's path, one analysis
    // per query. SQLFlow.datasetGraph is not timed here: it keeps each
    // Dataset's graph, so repeats would time the memo, not the analysis.
    val lineage: Seq[(String, Double)] = {
      import org.apache.spark.sql.graft.{FlowAnalysis, FlowNodeType}
      val panel = Seq("q01_pricing_summary", "q05_local_supplier",
        "q07_window_topk", "q10_cube", "q12_union_all", "q16_scalar_subquery",
        "q19_anti_join", "q23_explode_tokens", "q38_asof_join",
        "d03_minhash_lsh", "s01_knn_brute", "m03_feature_extract")
      val plans = panel.map(n => SparkEntry.queries(n)(spark, sfDir).queryExecution.optimizedPlan)
      def extract(contracted: Boolean): Unit = plans.foreach { p =>
        val g = FlowAnalysis.analyze(p, "query", FlowNodeType.Query)
        if (contracted) FlowAnalysis.contract(g)
      }
      // warm-up (`plans` already paid the one-time analyze+optimize):
      // give C2 real iteration counts on the analysis path — one rep was
      // enough for a FRESH JVM but not for this point of a full run,
      // where the inventory's thousands of Janino classes have churned the
      // code cache and the lineage path may be recompiling as the first
      // windows tick (r19)
      var warm = 0
      while (warm < 3) {
        extract(contracted = false); extract(contracted = true)
        warm += 1
      }
      // median-of-top-3 over five ~0.3 s windows per mode: a 5-rep window
      // swung 2× on one GC pause, and even a 50-rep single window moved
      // ±30% under container CPU contention — so the estimator reports
      // the least-contended windows, the same reason query times take
      // min-of-N. Through r19 this was max-of-3, whose same-tree spread
      // was the widest band in the artifact (plain 1905-3720 plans/s
      // across six runs, 0.51×-1.0×): ONE lucky JIT/contention window set
      // the whole number. Five windows with the median of the best three
      // keeps discarding the contended tail but stops a single outlier
      // window from being the estimate (r19 verdict item 2). Windows for
      // the two modes INTERLEAVE (plain, contracted, plain, …): the r18
      // protocol timed all plain windows first, so anything transient at
      // the section start — post-inventory C2 recompilation, a contention
      // burst — landed on plain ALONE, which is exactly the asymmetric
      // fingerprint the r18 driver printed (plain 0.39× of committed,
      // contracted 0.77×, no verdict row; r18 verdict item 2).
      // Interleaved, a section-start transient hits both modes' first
      // window and the top-3 selection discards it for both.
      def window(contracted: Boolean): Double = {
        val reps = 50
        System.gc()
        val t0 = System.nanoTime()
        var i = 0
        while (i < reps) {
          extract(contracted)
          i += 1
        }
        reps * plans.size / ((System.nanoTime() - t0) / 1e9)
      }
      val samples = Seq.fill(5)((window(contracted = false), window(contracted = true)))
      def medianOfTop3(xs: Seq[Double]): Double = xs.sorted.takeRight(3).apply(1)
      Seq("plain" -> medianOfTop3(samples.map(_._1)),
        "contracted" -> medianOfTop3(samples.map(_._2)))
    }
    calibSamples += calibSpin()
    val calibCpu = calibSamples.sorted.apply(calibSamples.size / 2)
    val total = results.map(_._2.sec).filter(_ >= 0).sum
    // Σ executor-CPU totals (r13 verdict item 5): the committed band is
    // stated in cpu_s FIRST — two runs of the same tree agree on Σcpu_s
    // to ~10% across contention windows where wall swings 2×, so "within
    // the band" stops depending on the container's afternoon mood
    def cpuTotal(xs: Seq[(String, EntryStats)]): Double =
      xs.map(_._2.cpuSec).filter(_ >= 0).sum
    // a failed query (-1 sentinel) is excluded from the totals, so it must
    // be SURFACED, not silently dropped — otherwise a breakage reads as a
    // speedup on the machine-parseable line (the old per-query map showed
    // -1 inline; the fixed-size line needs an explicit failure field)
    val failedIds = (results ++ heavy).collect { case (k, v) if v.sec < 0 => shortId(k) }.distinct
    // entries that ran but lost their attribution in EVERY pass (cpu_s
    // -1): the Σcpu_s totals silently exclude them, so the cpu_s band
    // would under-count without a surfaced list — the same
    // breakage-reads-as-a-speedup trap failed[] closes for wall time
    // (r14 review). Normally [] — a populated list means re-run.
    val unattributedIds =
      (results ++ heavy).collect { case (k, v) if v.sec >= 0 && v.cpuSec < 0 => shortId(k) }.distinct
    // full-precision, full-name details for humans and local diffing.
    // Focused (SPARK_GRAFT_ONLY) runs write a SEPARATE file: the committed
    // bench_details.json must only ever hold full-inventory runs — a
    // focused stub overwriting it would corrupt round-over-round compares
    val detailsFile =
      if (only.isEmpty) "bench_details.json" else "bench_details_focused.json"
    // per-entry objects since r13: sec plus the spill/GC/peak-mem that
    // make a cross-environment swing adjudicable (see EntryStats); since
    // r14 also the environment-INVARIANT work counters (records_read /
    // shuffle_records / shuffle_mb / rows) and attr_sec, the wall of the
    // pass the attribution columns were measured in (== sec unless the
    // min pass had a drain failure); and the entry's longest stages.
    def statsJson(xs: Seq[(String, EntryStats)]): String =
      xs.map { case (k, v) =>
        "\"" + k + "\":{\"sec\":" + v.sec + ",\"cpu_s\":" + v.cpuSec +
          ",\"spill_mb\":" + v.spillMb +
          ",\"gc_ms\":" + v.gcMs + ",\"peak_mem_mb\":" + v.peakMemMb +
          ",\"records_read\":" + v.recRead + ",\"shuffle_records\":" + v.shufRec +
          ",\"shuffle_mb\":" + v.shufMb + ",\"rows\":" + v.rows +
          ",\"attr_sec\":" + v.attrSec +
          ",\"stages\":" + v.stages.map(stageJson).mkString("[", ",", "]") + "}"
      }.mkString("{", ",", "}")
    // timed_action names the timing protocol: noop_observe timed the
    // observe-metric wait after save(); noop_observe_v2 stops at save()
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",
         |"timed_action":"noop_observe_v2",
         |"total_cpu_s":${fmt(cpuTotal(results))},"heavy_total_cpu_s":${fmt(cpuTotal(heavy))},
         |"calib_cpu_s":${fmt(calibCpu)},"calib_cpu_samples":${calibSamples.map(fmt).mkString("[", ",", "]")},
         |"failed":${failedIds.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"unattributed":${unattributedIds.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"queries":${statsJson(results)},
         |"heavy_10x":${statsJson(heavy)},
         |"lineage_plans_per_sec":${lineage.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")}}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(detailsFile),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ENCODING REDESIGN (r10, the r9 verdict's high item): the per-query
    // full-inventory map on stdout is a failed design — the driver keeps
    // only the LAST 2000 stdout chars (stderr interleaved), and every
    // BENCH_r1..r9 ended parsed:null (front truncation, or r9's own
    // overflow backstop). The full inventory STOPS going on stdout:
    //   - ALL entries, full names, 3-decimal precision, plus heavy/lineage
    //     tiers → bench_details.json (committed per round);
    //   - stdout gets ONE short final line (≲800 chars): spec-required
    //     fields (metric/value/unit/queries/sf) with `queries` holding a
    //     FIXED headline panel — one representative per family — plus
    //     n_queries and a details pointer. Inventory growth can never
    //     widen this line again: the panel is fixed, not inventory-sized.
    // The line prints AFTER spark.stop(): nothing Spark can log after it,
    // so only sbt's own ~75-char "[success]" trailer follows inside the
    // driver's window.
    val headlinePanel = Seq(
      "q01_pricing_summary", "q03_shipping_priority", "q06_revenue_forecast",
      "q07_window_topk", "q08_running_sum", "q38_asof_join", "q80_textrank",
      "q88_bm25_search", "d01_dedup_exact", "d03_minhash_lsh",
      "d08_jaccard_exact_join", "d11_dedup_pipeline", "d21_cc_alternating",
      "s01_knn_brute", "s05_kmeans_ivf", "s11_knn_graph_ivf",
      "t08_doc_top_terms", "t20_bpe_learn", "m03_feature_extract",
      "p01_training_mix", "z01_lineage_extraction")
    val byName = results.toMap
    val headline = headlinePanel.filter(byName.contains).map(n => shortId(n) -> byName(n).sec)
    val heavyTotal = heavy.map(_._2.sec).filter(_ >= 0).sum
    val line = summaryLine(Seq(
      "metric" -> "\"total\"", "value" -> fmt(total), "unit" -> "\"sec\"",
      "queries" -> jsonMap(headline),
      // inventory size, NOT results.size — the zpanel_build line is a
      // bench accounting line, not an inventory entry
      "sf" -> s""""$sfDir"""", "n_queries" -> first.size.toString,
      // failures are excluded from `value`, so they must be visible
      // here; normally [] — a populated list IS the red flag
      "failed" -> failedIds.map("\"" + _ + "\"").mkString("[", ",", "]"),
      "heavy_10x_total" -> fmt(heavyTotal),
      // the Σcpu_s the committed band is stated in; entries missing from
      // those sums (attribution lost in every pass) are surfaced in
      // `unattributed`, not silently excluded — normally []
      "total_cpu_s" -> fmt(cpuTotal(results)),
      "heavy_total_cpu_s" -> fmt(cpuTotal(heavy)),
      // the fixed-work hotness divisor the adjudicator normalizes by
      "calib_cpu_s" -> fmt(calibCpu),
      "unattributed" -> unattributedIds.map("\"" + _ + "\"").mkString("[", ",", "]"),
      "lineage_plans_per_sec" -> jsonMap(lineage),
      // at sf0.1 every headline wall is job-launch-floored (8-vs-32-core
      // ratios ≈ 1 by construction); the compute that parallelizes lives
      // in the heavy tier's cpu_s, so the per-entry heavy cpu_s puts
      // compute scaling on the machine-readable line at both core counts.
      // Short ids; build lines excluded (they are bench accounting, not
      // inventory entries). bench_details.json carries the same numbers,
      // which is why summaryLine may drop this field.
      "heavy_cpu_s" -> jsonMap(
        heavy.filter(h => h._2.cpuSec >= 0 && !h._1.endsWith("_build"))
          .map { case (k, v) => shortId(k) -> v.cpuSec }),
      "details" -> s""""$detailsFile""""))
    spark.stop()
    // nothing may print AFTER the line — with the raw pass-through output
    // strategy (build.sbt) even the JVM-exit shutdown hooks' INFO lines
    // (ShutdownHookManager) would otherwise land below it in the driver's
    // merged capture
    org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.OFF)
    println(line)
  }
}
