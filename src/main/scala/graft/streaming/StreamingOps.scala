package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.queries.QueryDsl.readParquet

/** Structured Streaming operators over the `events` table shape.
  *
  * The reference has no stream processing (its "stream sink" is incremental
  * lineage append — SURVEY §2.2); these are the streaming operators a
  * training-data pipeline needs, built on watermarks + windowed aggregation
  * and `flatMapGroupsWithState` for custom session state.
  *
  * Scale notes: state is partitioned by the grouping key (user_id), so a
  * 1000-executor cluster shards session state horizontally; watermarks bound
  * state size by evicting sessions older than the allowed lateness.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  // must be public: the state Encoder's generated code instantiates it
  case class SessionState(start: Long, last: Long, n: Long, total: Double)

  def eventSchema(tsType: org.apache.spark.sql.types.DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType), // nanos-as-Long OR native timestamp, per file
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over `<dir>/events.parquet`, normalized to a
    * microsecond TIMESTAMP `ts` (same convention as the batch loader).
    * A streaming source needs an explicit schema, and events.parquet's
    * physical `ts` type has varied across testdata generations
    * (TIMESTAMP(NANOS)→Long under nanosAsLong vs native
    * TIMESTAMP(MICROS)), so peek at the file's batch-read schema and
    * convert accordingly. Inferring it runs a one-task footer-reading Spark
    * job (no data scan); `QueryDsl.readParquet` runs it only on the first
    * read of an unchanged file. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val tsType = readParquet(spark, s"$dir/events.parquet").schema("ts").dataType
    val raw = spark.readStream
      .schema(eventSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling-window event counts with a watermark: the canonical
    * streaming aggregation (pre-shuffle partial aggregation applies; state
    * bounded by the 10-minute watermark). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Hopping (sliding) windowed counts — q101's streaming twin: each event
    * lands in windowMinutes / slideMinutes overlapping windows; Spark
    * expands the assignment map-side, so state per key is the same
    * watermark-bounded window set as the tumbling form, just W/S times as
    * many open windows. */
  def hoppingCounts(events: DataFrame, windowMinutes: Int = 60,
      slideMinutes: Int = 15): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), s"$windowMinutes minutes", s"$slideMinutes minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming deduplication: first arrival per key wins WITHIN the
    * watermark horizon — dropDuplicatesWithinWatermark keeps per-key state
    * evictable (plain dropDuplicates without the event-time column in the
    * keys would grow state forever), trading bounded state for possible
    * re-emission of a key after its state expires. The projection to the
    * key columns keeps emitted rows deterministic under any arrival order. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")

  /** Stream-static enrichment join: the static dimension is read per
    * micro-batch and broadcast — no stream-side state, the standard shape
    * for joining a firehose against a slowly-changing dimension. */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"), "left_outer")
      .select(col("event_id"), col("user_id"), col("event_type"), col("c_name"))

  /** Stream-stream self-join: pairs of events of the same user within
    * `gapMinutes` — the canonical interval join. Watermarks on BOTH sides +
    * the time-range condition let Spark bound each side's join state; the
    * state store is sharded by user_id, so it scales horizontally like the
    * sessionization state. */
  def pairsWithinGap(events: DataFrame, gapMinutes: Int = 1): DataFrame = {
    val a = events.select(col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_ts")).withWatermark("a_ts", "10 minutes")
    val b = events.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_ts")).withWatermark("b_ts", "10 minutes")
    // each unordered pair emits once with a = the earlier event; the id
    // comparison breaks same-timestamp ties only (an `a_id < b_id` guard
    // alone would silently drop pairs whose ids are not time-ordered)
    a.join(b, expr(
      s"""user_id = b_user AND
          b_ts BETWEEN a_ts AND a_ts + INTERVAL $gapMinutes MINUTES AND
          (b_ts > a_ts OR (b_ts = a_ts AND a_id < b_id)) AND a_id != b_id"""))
      .select(col("user_id"), col("a_id"), col("b_id"),
        // micros-exact difference, then truncate once (per-side
        // unix_timestamp would floor each timestamp independently and be
        // off by one for sub-second gaps)
        ((unix_micros(col("b_ts")) - unix_micros(col("a_ts"))) / 1000000L)
          .cast("long").as("diff_sec"))
  }

  /** Streaming KMV distinct-count sketch — q78's streaming twin, and the
    * proof that the bottom-k sketch is genuinely MERGEABLE state: the
    * distinct-mode bounded top-k aggregate holds the k smallest DISTINCT
    * 56-bit hashes per group as O(k) streaming state, every micro-batch
    * folds in map-side, and because the sketch is a pure function of the
    * key SET the result is independent of batching, arrival order, and
    * multiplicity — replaying the stream in any micro-batch split lands on
    * the identical estimate (pinned by spec). This is the firehose
    * cardinality story at 100 TB: `approx_count_distinct` state that never
    * grows, vs an exact streaming distinct whose state is the key set
    * itself. Complete-mode output: one row per group with the Bar-Yossef
    * estimate (q78's exact integer arithmetic; below k keys the sketch IS
    * the set and the estimate collapses to the exact count). */
  def kmvDistinctStream(events: DataFrame, k: Int = 32): DataFrame = {
    import org.apache.spark.sql.graft.functions.top_k_struct_distinct
    import graft.queries.SketchHash
    // the estimator computes (k-1)·2^56 in Long arithmetic: k-1 must stay
    // below 2^7 or the product overflows 2^63 and the estimate goes
    // negative (the shared kmvEstimate builder enforces the same bound)
    require(k >= 2 && k <= 128, s"kmv k must be in [2, 128], got $k")
    events
      .select(col("event_type").as("grp"),
        SketchHash.md5_56(col("user_id")).as("h"))
      .groupBy("grp")
      .agg(top_k_struct_distinct(struct(col("h")), k).as("bottomk"))
      .withColumn("n_kept", size(col("bottomk")))
      .withColumn("kth", expr(s"try_element_at(bottomk, $k).h"))
      .withColumn("est_distinct", SketchHash.kmvEstimate(k, "kth", "n_kept"))
      .select("grp", "n_kept", "kth", "est_distinct")
  }

  /** Streaming Count-Min sketch — q86's streaming twin, and the additive
    * counterpart of [[kmvDistinctStream]]'s order-independence story:
    * counter increments COMMUTE, so the d×w counter matrix folds every
    * micro-batch map-side (partial aggregation), holds exactly d·w longs
    * of complete-mode state no matter how long the stream runs, and any
    * split of the same events into micro-batches lands on the identical
    * matrix (pinned by spec against the batch build). Frequency queries
    * then probe the tiny output table with q86's min-over-rows estimate —
    * the firehose "how often did key x occur" answer whose state never
    * grows. Hashing matches q86 cell-for-cell (56-bit md5 of "row|key"
    * mod w), so a stream-built sketch is interchangeable with a
    * batch-built one — build on the stream, query in batch. */
  def cmsFreqStream(events: DataFrame, d: Int = 4, w: Int = 64): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1 rows and w >= 2 buckets, got d=$d w=$w")
    // bucket from the ONE shared definition (SketchHash): cells must stay
    // cell-for-cell identical to q86's batch build
    events
      .select(col("user_id"), explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("b",
        graft.queries.SketchHash.cmsBucket(col("r"), col("user_id"), w))
      .groupBy("r", "b").agg(count(lit(1)).as("cnt"))
  }

  /** Streaming Count Sketch cells — q105's streaming twin and the
    * TURNSTILE member of the sketch family: cells are SIGNED sums of
    * g_i(k) ∈ {±1} (md5-derived, cell-for-cell identical to q105), so
    * beyond commuting like CMS's counters the fold accepts RETRACTIONS —
    * a delete is just `delta = -1`, and the cell matrix always equals the
    * batch sketch of the NET multiset, a property none of the other three
    * sketches has (CMS counters corrupt under deletes that race ahead of
    * their inserts; KMV/HLL can't unsee a key at all). State: d·w longs
    * in complete mode forever. `updates` needs (k: BIGINT, delta:
    * BIGINT). Query the output with q105's median-of-rows estimator —
    * build on the stream, estimate in batch. */
  def countSketchCellsStream(updates: DataFrame,
      d: Int = graft.queries.CountSketch.Rows,
      w: Int = graft.queries.CountSketch.Width): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1 rows and w >= 2 buckets, got d=$d w=$w")
    // hash family from the ONE shared definition (r10 advice): the cells
    // here must stay cell-for-cell identical to q105's batch build
    import graft.queries.CountSketch
    updates
      .select(col("delta"), posexplode(CountSketch.pairs(col("k"), d, w)))
      .select(col("pos").as("i"), col("col.b").as("b"),
        (col("delta") * col("col.g")).as("sg"))
      .groupBy("i", "b").agg(sum("sg").as("cell"))
  }

  /** Streaming HyperLogLog registers — q85's streaming twin, completing
    * the sketch-family trilogy: KMV folds by bounded-top-k, CMS by
    * addition, HLL by MAX — a commutative AND idempotent fold, so beyond
    * batching- and order-independence the register table is also immune
    * to replayed duplicates (at-least-once delivery needs no dedup stage
    * — the property the other two sketches don't have). Complete-mode
    * state is ≤ 64 rows of one 6-bit rank per group forever; hashing,
    * register split, and rho match q85 bit-for-bit (56-bit md5, top-6
    * register, length(bin) rank), so a stream-built register table is
    * interchangeable with the batch build and q85's integer estimator
    * (incl. the linear-counting branch) reads either. */
  def hllDistinctStream(events: DataFrame): DataFrame = {
    import graft.queries.SketchHash
    // hash/register/rho from the ONE shared definition (SketchHash):
    // registers must stay bit-identical to q85's batch build
    events
      .select(col("event_type").as("grp"),
        SketchHash.md5_56(col("user_id")).as("h"))
      .select(col("grp"), SketchHash.hllReg(col("h")).as("reg"),
        SketchHash.hllRho(col("h")).as("rho"))
      .groupBy("grp", "reg").agg(max("rho").as("rho"))
  }

  /** Stream-stream LEFT OUTER interval join — the "did a follow-up arrive"
    * shape ([[pairsWithinGap]]'s outer sibling): every event pairs with
    * the SAME user's strictly-later events inside `gapMinutes`, and an
    * event with no follow-up still emits once, with null b-columns, after
    * the watermark proves no matching row can still arrive. That deferred
    * null emission is the capability inner joins don't exercise: the state
    * store must hold the left row until event-time passes its join window,
    * then release it as a non-match — Spark bounds that state with the
    * same two-sided watermark + time-range condition as the inner form,
    * sharded by user_id. The spec pins the stream result row-for-row to
    * the batch left-outer formulation. */
  def pairsWithinGapOuter(events: DataFrame, gapMinutes: Int = 1): DataFrame = {
    val a = events.select(col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_ts")).withWatermark("a_ts", "10 minutes")
    val b = events.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_ts")).withWatermark("b_ts", "10 minutes")
    a.join(b, expr(
      s"""user_id = b_user AND
          b_ts > a_ts AND b_ts <= a_ts + INTERVAL $gapMinutes MINUTES AND
          a_id != b_id"""), "left_outer")
      .select(col("user_id"), col("a_id"), col("b_id"),
        ((unix_micros(col("b_ts")) - unix_micros(col("a_ts"))) / 1000000L)
          .cast("long").as("diff_sec"))
  }

  /** FULL outer interval self-join — completes the stream-stream join
    * family (inner [[pairsWithinGap]], left-outer [[pairsWithinGapOuter]]):
    * window-less events surface from BOTH sides, (a_id, null) and
    * (null, b_id), each once the watermark proves its join window closed;
    * matches emit immediately. Outer-ness changes what is emitted at
    * state EVICTION, not what is retained — per-side state is the same
    * watermark-bounded window as the inner join, so the full-outer form
    * scales identically. */
  def pairsWithinGapFull(events: DataFrame, gapMinutes: Int = 1): DataFrame = {
    val a = events.select(col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_ts")).withWatermark("a_ts", "10 minutes")
    val b = events.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_ts")).withWatermark("b_ts", "10 minutes")
    a.join(b, expr(
      s"""user_id = b_user AND
          b_ts > a_ts AND b_ts <= a_ts + INTERVAL $gapMinutes MINUTES AND
          a_id != b_id"""), "full_outer")
      .select(coalesce(col("user_id"), col("b_user")).as("user_id"),
        col("a_id"), col("b_id"),
        ((unix_micros(col("b_ts")) - unix_micros(col("a_ts"))) / 1000000L)
          .cast("long").as("diff_sec"))
  }

  /** Streaming fixed-domain histogram — q87's streaming twin and the
    * fourth member of the mergeable-sketch family (KMV folds by
    * bounded-top-k, CMS by addition, HLL by max, the histogram by
    * addition over a FIXED bin domain): bin counts are additive
    * complete-mode state bounded at groups·nBins rows forever, and any
    * micro-batch split of the same events lands on the identical counts.
    * The FIXED domain (not data-dependent min/max) is exactly what makes
    * the sketch mergeable across partitions, days, and streams — q87's
    * batch rule; out-of-domain values clamp to the edge bins (resolution
    * loss there, never a correctness loss — rank semantics hold on the
    * clamp bin). q87's integer rank/interpolation extraction runs on the
    * tiny output table, stream-built or batch-built interchangeably. */
  def histQuantileStream(events: DataFrame, binBits: Int = 17, nBins: Int = 1024): DataFrame = {
    require(binBits >= 0 && nBins >= 2, s"need binBits >= 0, nBins >= 2; got $binBits/$nBins")
    events
      .select(col("event_type").as("grp"),
        expr("CAST(FLOOR(value * 1000) AS BIGINT)").as("vm"))
      .select(col("grp"),
        least(greatest(shiftright(col("vm"), binBits), lit(0L)), lit(nBins - 1L)).as("bin"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("cnt"))
  }

  /** Streaming novelty filter against a static corpus digest — the
    * streaming half of the d12 incremental-dedup design: keep only the
    * incoming documents that CANNOT be Jaccard>=0.5 near-dups of the
    * already-ingested corpus (fewer than half their shingles hit the
    * digest; the bound is sound, see DedupQueries.bloomPrefilterCandidates).
    * Fully STATELESS and map-side — no streaming state store, no join, no
    * watermark: each micro-batch probes the broadcast digest inside one
    * codegen'd projection, so the firehose never touches the corpus. Docs
    * dropped here are conservatively "possible dups"; a downstream exact
    * verify (d12's batch shape) recovers the false positives if required. */
  def novelDocsStream(
      docs: DataFrame, digest: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    import org.apache.spark.sql.graft.functions.{bloom_count_hits, token_shingle_hashes}
    docs
      .withColumn("sh", token_shingle_hashes(col("text"), 3))
      .filter(bloom_count_hits(col("sh"), digest) * 2 < size(col("sh")))
      .drop("sh")
  }

  /** One-pass streaming corpus-ingest gate — the full training-data intake
    * pipeline as a SINGLE stateless projection chain: (1) PII redaction
    * (t15's email→IPv4→phone chain, codegen'd regexp_replace), (2) quality
    * verdict over the redacted text (t13's cascade: too_short /
    * low_diversity / repetitive / keep, built on the native shingle
    * expression), (3) novelty against the already-ingested corpus's
    * broadcast Bloom digest (d12's sound half-shingle bound). Nothing here
    * shuffles, joins, or keeps streaming state — at firehose scale the
    * gate is embarrassingly parallel per micro-batch partition, and the
    * only cross-epoch state is the digest the BATCH side rebuilds (d12).
    * Emits the redacted text plus the gate's decision columns; callers
    * filter `verdict = 'keep' AND novel` (kept separate so rejected docs
    * can be routed to a quarantine sink instead of dropped silently). */
  def ingestGate(
      docs: DataFrame, digest: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    import org.apache.spark.sql.graft.functions.{bloom_count_hits, token_shingle_hashes}
    // ONE set of PII patterns (t15's, shared — a pattern fix there cannot
    // desynchronize this gate)
    import graft.queries.TextQueries.{PiiEmail, PiiIp, PiiPhone}
    docs
      .withColumn("red",
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          PiiEmail, "[EMAIL]"), PiiIp, "[IP]"), PiiPhone, "[PHONE]"))
      .withColumn("tk", filter(split(col("red"), " "), t => t =!= ""))
      // novelty shingles the RAW text: the corpus digest (d12) is built
      // from raw text, and the soundness bound (jaccard >= 0.5 => half
      // the shingles hit) only holds when both sides shingle the SAME
      // text — shingling the redacted form would let a PII-dense exact
      // duplicate slip through as "novel"
      .withColumn("sh", token_shingle_hashes(col("text"), 3))
      // the quality cascade grades the REDACTED text (tk comes from red),
      // so the repetition check needs its own shingle set over red — a doc
      // that repeats one sentence with a different email each time is
      // highly repetitive AFTER redaction ([EMAIL] collapses the variants)
      // but its raw-text shingles are all distinct
      .withColumn("shr", token_shingle_hashes(col("red"), 3))
      .withColumn("verdict",
        when(size(col("tk")) < 10, "too_short")
          .when(expr("(1000 * size(array_distinct(tk))) DIV greatest(size(tk), 1)") < 300,
            "low_diversity")
          // the shingle SET is deduped by construction, so repetition =
          // how many of the doc's 3-gram positions collapsed into fewer
          // distinct shingles
          .when(expr("(1000 * (greatest(size(tk) - 2, 1) - size(shr))) " +
            "DIV greatest(size(tk) - 2, 1)") > 300, "repetitive")
          .otherwise("keep"))
      .withColumn("novel", bloom_count_hits(col("sh"), digest) * 2 < size(col("sh")))
      .drop("tk", "sh", "shr")
  }

  /** Gap-based sessionization with explicit state: a session closes when no
    * event arrives within `gapMinutes` (event time). Emits closed sessions. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 5): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, evts: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val out = scala.collection.mutable.ArrayBuffer[Session]()
      var cur = state.getOption
      evts.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t > s.last + gapMs =>
            // gap elapsed after the session: close it, open a new one
            out += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
            cur = Some(SessionState(t, t, 1, e.value))
          case Some(s) if t < s.start - gapMs =>
            // stray LATE event (within watermark, cross-batch) too far
            // before the open session: emit it as its own closed session
            // rather than dragging the session bounds backward
            out += Session(userId, new Timestamp(t), new Timestamp(t), 1, e.value)
          case Some(s) =>
            // merge, extending bounds in BOTH directions — a late event
            // inside [start - gap, last + gap] must never move `last`
            // backward (that would emit session_end < session_start)
            cur = Some(s.copy(start = math.min(s.start, t), last = math.max(s.last, t),
              n = s.n + 1, total = s.total + e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur match {
        case Some(s) if state.hasTimedOut =>
          out += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
          state.remove()
        case Some(s) =>
          state.update(s)
          // timed-out invocations carry no events and are fully handled above
          state.setTimeoutTimestamp(s.last + gapMs)
        case None => if (state.hasTimedOut) state.remove()
      }
      out.iterator
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class Debounced(user_id: Long, event_type: String, event_id: Long, ts_us: Long)

  case class PathEv(ts_us: Long, event_id: Long, event_type: String)
  // must be public: the state Encoder's generated code instantiates it
  case class PathState(startUs: Long, lastUs: Long, evs: Seq[PathEv], n: Long)
  case class SessionPath(user_id: Long, session_start_us: Long,
      n_events: Long, path: String)

  /** Gap-closed session PATHS — q99's streaming twin: when a user's
    * silence exceeds `gapHours` of event time, the closed session emits
    * its ordered event-type path (the free-form journey q99 counts
    * batch-side). State per user is the OPEN session's event list,
    * bounded by `maxEvents` (64 — far above any plausible session; a
    * hyperactive key truncates its path with a '>…' marker instead of
    * growing state without limit). Same state discipline as
    * [[sessionize]]: in-session events merge in any arrival order, stray
    * late events far before the open session emit alone, the event-time
    * timeout flushes the open session once the watermark passes its
    * gap. */
  def sessionPathsStream(events: Dataset[Event], gapHours: Int = 12,
      maxEvents: Int = 64): Dataset[SessionPath] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapHours * 3600L * 1000000L

    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    def emit(userId: Long, s: PathState): SessionPath = {
      val ordered = s.evs.sortBy(e => (e.ts_us, e.event_id))
      val path = ordered.map(_.event_type).mkString(">") +
        (if (s.n > maxEvents) ">…" else "")
      SessionPath(userId, s.startUs, s.n, path)
    }

    // overflow keeps the SMALLEST maxEvents events by (ts_us, event_id):
    // keep-smallest-k is mergeable (smallest-k of the union, whatever the
    // arrival interleaving), so the truncated path is arrival-order-
    // invariant and n_events stays exact via the `n` counter (r9 advice —
    // the old first-arrived cap both under-reported n_events and made the
    // truncated path depend on cross-batch arrival order)
    def add(s: PathState, ev: PathEv, t: Long): PathState = {
      val kept =
        if (s.evs.size < maxEvents) s.evs :+ ev
        else (s.evs :+ ev).sortBy(e => (e.ts_us, e.event_id)).take(maxEvents)
      PathState(math.min(s.startUs, t), math.max(s.lastUs, t), kept, s.n + 1)
    }

    def update(userId: Long, evts: Iterator[Event],
        state: GroupState[PathState]): Iterator[SessionPath] = {
      val out = scala.collection.mutable.ArrayBuffer[SessionPath]()
      var cur = state.getOption
      evts.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val t = micros(e.ts)
        val ev = PathEv(t, e.event_id, e.event_type)
        cur match {
          case Some(s) if t - s.lastUs > gapUs =>
            out += emit(userId, s)
            cur = Some(PathState(t, t, Vector(ev), 1L))
          case Some(s) if t < s.startUs - gapUs =>
            // stray late event far before the open session: its own session
            out += SessionPath(userId, t, 1L, e.event_type)
          case Some(s) =>
            cur = Some(add(s, ev, t))
          case None =>
            cur = Some(PathState(t, t, Vector(ev), 1L))
        }
      }
      cur match {
        case Some(s) if state.hasTimedOut =>
          out += emit(userId, s)
          state.remove()
        case Some(s) =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastUs / 1000L + gapUs / 1000L)
        case None => if (state.hasTimedOut) state.remove()
      }
      out.iterator
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Per-(user, event_type) event-time DEBOUNCE — q98's streaming twin: an
    * event is emitted only when ≥ `tolHours` of EVENT time has passed
    * since the last emitted event of the same key (the greedy anchor
    * walk). State is ONE long per key (the last anchor), the smallest
    * possible state-store row; deliberately NO timeout — expiring the
    * anchor would re-admit a suppressed key after every quiet period,
    * which is exactly what a rate limiter must not do, and the state is
    * 8 bytes × key cardinality, bounded regardless of event volume.
    * Within a micro-batch events sort by (ts, id) so emission matches the
    * batch fold; events arriving before the standing anchor (late data
    * inside the watermark) are correctly suppressed — they cannot move an
    * anchor that is already emitted. */
  def debounceStream(events: Dataset[Event], tolHours: Int = 24): Dataset[Debounced] = {
    val spark = events.sparkSession
    import spark.implicits._
    val tolUs = tolHours * 3600L * 1000000L

    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    def update(key: (Long, String), evts: Iterator[Event],
        state: GroupState[Long]): Iterator[Debounced] = {
      val out = scala.collection.mutable.ArrayBuffer[Debounced]()
      var last = state.getOption.getOrElse(Long.MinValue)
      evts.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val t = micros(e.ts)
        if (last == Long.MinValue || t - last >= tolUs) {
          last = t
          out += Debounced(key._1, key._2, e.event_id, t)
        }
      }
      if (last != Long.MinValue) state.update(last)
      out.iterator
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }
}
