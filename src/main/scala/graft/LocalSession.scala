package graft

import org.apache.spark.sql.SparkSession

/** The one local session conf: `Bench` times the inventory under it, and
  * `Verify` dumps the oracle-checked results under the same conf, so the
  * oracle checks exactly what the bench measures. The test-scope tools
  * (`Plans`, `RegenPinnedOracles`) use it too. Callers set their own log
  * level. */
object LocalSession {
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // the bounded top-k aggregates (TypedImperativeAggregate →
    // ObjectHashAggregateExec) hold O(k) state per group BY DESIGN, but
    // Spark's default sort-based fallback fires at 128 distinct groups —
    // s11's partial top-k over 20k query groups was degrading to an
    // external sort of all 2.9e8 candidate rows (2.9 GB spill/run, the
    // r12 stage probe's dominant cost AND its variance). 128k groups ×
    // k·rowsize keeps worst-case hash-agg state in the low hundreds of
    // MB per task; past that the sort fallback is the right answer.
    // CAVEAT (r12 advice): this session-wide override also defers the
    // sort-based safety net for UNBOUNDED-per-group-state aggregates
    // (collect_set/collect_list — e.g. q17's baskets); at the
    // inventory's scales their total state is small, but if a
    // collect_*-heavy entry ever shows memory pressure, scope the
    // override around the top-k entries instead.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
    // The generated-class cache (STATIC conf, default 100 entries) is
    // smaller than the inventory (~3-6 codegen stages per entry ≈
    // 300-600 distinct sources), so by the time pass 2 re-runs an entry
    // its pass-1 classes are long evicted and every sample pays Janino +
    // JIT re-warm-up — the r14-documented 1.5-3× bench-vs-probe cpu_s
    // gap, and the axis on which d18's reported cpu_s was bimodal across
    // same-tree runs (21-58 cpu_s with bit-identical work counters; see
    // BUILD_NOTES r15). 4096 keeps every plan's classes for the session —
    // also the right setting for a long-lived cluster session running
    // hundreds of distinct plans. ~10-50 KB per cached class → tens of
    // MB. Correctness is cache-independent.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    // PIN the Tungsten page size to the canonical 8 GB-heap value.
    // MemoryManager derives the default page from the heap
    // (nextPowerOf2(executionPool / cores / 16), capped 64 MB): an 8 GB
    // driver computes 8 MB pages, a 64 GB driver computes 64 MB — and
    // that single heap-derived variable was the WHOLE r16-r17
    // "geometry" excursion class: under big heaps, allocation-dense
    // stages (the d22 verify, d14's posting self-join partial
    // aggregate, t08's top-k aggregate) went cpu-multimodal PER
    // EXECUTION at bit-identical work counters (measured dose, r18
    // probe: d14 heavy cpu {24-37} s at 8g vs {40, 142, 381} s at 64g,
    // gc 2 s -> 91 s), and peak_mem — which measures execution-memory
    // ACQUISITION in page granularity — inflated tier-wide (the r17
    // driver fingerprint: 2047 -> 6911 MB on d14). With the page size
    // pinned, a 64 GB-heap probe reproduces the 8 GB band exactly
    // (cpu {21.5-55.8} s, peak_mem 2048 MB — BUILD_NOTES r18 dose
    // table), so bench numbers are a function of the TREE, not of the
    // host JVM's heap. 8m = what the canonical committed environment
    // already computes, so committed history stays comparable. This is
    // a reproducibility pin, not a library default: on a real cluster
    // executor (typical 4-8 GB per executor-core pool) the computed
    // default lands in this same range anyway.
    .config("spark.buffer.pageSize", "8m")
    .getOrCreate()
}
