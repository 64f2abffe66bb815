#!/usr/bin/env python3
"""Apply the calibrated bench signature rule (BUILD_NOTES r14) to a pair of
bench_details.json artifacts: a COMMITTED baseline and a CANDIDATE run
(e.g. the driver's). Prints one verdict per entry, rules applied top-down,
first hit decides:

  1. records_read or rows differs            -> STRUCTURE (exact invariants)
  2. shuffle_records ratio >= 1.5x           -> STRUCTURE
     (below that on hash-agg entries: known partial-agg adaptivity)
  3. spill_mb > 0 where committed 0          -> STRUCTURE
  4. cpu_s vs committed:
       committed cpu_s < 3 s                 -> not adjudicable (job floor)
       entry in CPI_FRAGILE                  -> cpu_s advisory (counters ruled)
       ratio >= 1.6x                         -> REOPEN
       else                                  -> ENV/OK
     Entries in HEAP_SENSITIVE are cpu-advisory (HEAP-OK) when the
     candidate shows the memory-geometry tell (rule 6's tier common-mode
     peak_mem >= 2x) AND the raw ratio is under the entry's measured
     ceiling; without the tell, or past the ceiling, the bands rule.
     When BOTH artifacts carry `calib_cpu_s` (r15: a fixed-work, Spark-free,
     allocation-light CPU spin timed per run), the cpu ratio is NORMALIZED
     by the calib ratio before the band applies — "the whole window ran
     1.14x hot" becomes a per-artifact measurement instead of an inference;
     raw and normalized ratios are both printed.
  5. wall (`sec`), entries whose cpu verdict was OK and committed wall
     >= 1 s: ratio normalized by the tier's common-mode wall ratio
     (Sigma cand.sec / Sigma base.sec over the tier's shared entries,
     EXCLUDING the shared_build/dshared_build lines — their min-of-pass
     wall often dominates a tier sum and would skew the normalization;
     r16 advice) — >= 2.0x normalized prints a WALL advisory (counters
     already ruled the envelope clean, so wall inflation is visible but
     never reopens on its own; r15: t08 ran 2.84x wall at cpu identical
     to 0.05% and nothing printed).
  6. peak_mem (`peak_mem_mb`), committed >= 256 MB: ratio normalized by
     the tier's common-mode peak_mem ratio (same construction as the
     wall rule) >= 3x appends a MEM note to whatever verdict the rules
     above produced, and an otherwise-OK entry prints as a MEM advisory
     (never reopens alone — counters-first discipline). The common-mode
     normalization is load-bearing: execution-memory ACQUISITION scales
     with the JVM's memory geometry (Tungsten page size is a function of
     heap size — nextPowerOf2(pool/cores/16), capped 64 MB — so a
     bigger-heap environment acquires the same data in bigger,
     emptier pages), and the r16 driver artifact showed ~6.5-8x
     peak_mem on NEARLY EVERY entry at flat cpu (t22 7.8x mem at 0.53x
     cpu; q105 7.8x at 0.91x) — a raw per-entry rule would have sprayed
     ~40 advisories and buried the signal. The tier line itself prints
     loudly when the common mode is extreme (>= 2x either way): THAT is
     the r16 d22 lesson — the memory signature that looked like d22's
     distinguishing anomaly was the whole artifact's geometry, and the
     one remaining d22-specific signal was cpu.

Calib guardrails (r15 advice): when calib_r falls outside [0.7, 1.5] the
normalization is suspect (the spin is deliberately cache-resident, so a
skewed sample can normalize a real regression below the band) — a loud
warning prints and rule 4 ALSO applies a raw-ratio absolute cap (2.5x ->
REOPEN regardless of normalization). The raw cap applies at every
calib_r, so normalization can soften the band but never fully absorb a
large raw excursion.

Entries that cannot be adjudicated at all (sub-floor cpu AND counters
absent, i.e. a pre-r14 baseline) print as FLOOR-UNCHECKED rather than
passing silently; they count toward a separate `unadjudicable` tally, not
the exit status (a pre-r14 compare is inherently manual). Candidate-only
entries per tier print as NEW so inventory drift is visible. An entry
that failed every pass (Bench's {sec:-1, rows:-1} sentinel) prints as
FAILED and counts toward the exit status. shared_build/dshared_build
lines print as quiet BUILD (their counters are pass-dependent by design
under min-of-passes) — EXCEPT when the build cpu ratio itself is extreme
(>= 3x either direction), which prints so a build-cost blow-up cannot
hide in the quiet set; zpanel_build is timed once per run, so it is
adjudicated like any entry (its rows:-1 sentinel compares by equality).

  7. lineage_plans_per_sec (plain + contracted): the product's OWN
     driver-side analysis loop — the one metric that had no verdict row
     until r19, when the r18 driver's plain-mode 1221 plans/s (0.39x of
     committed, below the 2503-3863 six-run same-tree band) sailed
     through unexamined. Rate ratio r = cand/base per mode, normalized by
     MULTIPLYING by calib_r (a hot candidate window depresses the rate,
     so crediting the common-mode hotness back means r * calib_r — the
     inverse of the cpu rule's division; credit is SKIPPED when calib_r
     sits outside the CALIB_SANE band, mirroring the cpu rule's
     suspect-calib warning). Normalized < 0.45x -> LINEAGE-REOPEN
     (counts toward exit); raw < 0.33x -> LINEAGE-REOPEN regardless of
     credit (the raw-floor backstop, r19 advice); < 0.65x ->
     LINEAGE-SLOW advisory; > 2.2x -> LINEAGE-FAST advisory (a
     different-machine / different-protocol tell, never counts). A mode
     the committed artifact carried that the candidate omits counts
     toward exit like a MISSING entry; a candidate-only mode prints as a
     NEW-style advisory (r19 advice). Band width: same-tree
     same-machine history spans 0.65x-1.54x across the r16-r18 six-run
     windows (the max-of-3-windows estimator is JIT- and
     contention-mode-sensitive); r19 also changed Bench's measurement to
     INTERLEAVE the plain/contracted windows (the r18 protocol timed all
     plain windows first, so any section-start transient — post-inventory
     C2 recompilation, a contention burst — landed on plain alone, which
     is exactly the asymmetric 0.39x/0.77x fingerprint the r18 driver
     printed), so protocol-matched r19+ pairs should sit well inside the
     band. r20 re-derivation under the median-of-top-3-of-5 estimator
     (r19 verdict item 2): six-run same-tree spread tightened to
     plain 1838-2250 = 1.22x, contracted 1498-2059 = 1.37x (was 1.95x),
     i.e. worst same-tree pairwise ratio 0.73x (contracted). The
     thresholds are KEPT at 0.45/0.65/2.2: SLOW at 0.65x sits just under
     the observed same-tree worst case (0.73x) — raising it would turn a
     measured quiet-band sample into a false alarm — and REOPEN must
     stay clear of SLOW by the cross-host margin the driver adds on top
     (the r19/r20 artifacts differ 1.15-1.37x on raw host speed alone).

Usage: python3 tools/adjudicate_bench.py COMMITTED.json CANDIDATE.json
       (either arg may be "git:REF" to read bench_details.json from a git
        revision, e.g. git:HEAD or git:920e879)
Exit status: number of verdicts in {STRUCTURE, REOPEN, FRAGILE, BIMODAL,
HEAP, FAILED, MISSING, LINEAGE-REOPEN} (0 = all clear; HEAP is the
counters-ABSENT arm of the heap-sensitive rule — HEAP-OK, the
counters-checked arm, does not count). FRAGILE-OK / BIMODAL-OK / HEAP-OK /
WALL / MEM / BUILD / NEW / FLOOR-UNCHECKED / LINEAGE-SLOW / LINEAGE-FAST
print but do not count."""

import json
import subprocess
import sys

# measured burner coefficient > 1.2 at 2x oversubscription (BUILD_NOTES r14
# coefficient table, all 15 large-cpu heavy entries probed; r16 extended
# the table to every >=5 s-cpu entry — q07's window sort measured 1.27-1.29
# steady, the same cache-bandwidth sensitivity class as s11's hash-agg).
# r20 NOTE: q07's fragile mechanism (the partition-local window sort) was
# REMOVED by the bounded top-k restructure (OPTIMIZATION_r20.md §1, heavy
# cpu 8.41 -> 2.4-2.9 across the round's reps); the tag stayed one round
# as a conservative advisory while the new kernel's coefficient was
# unmeasured.
# r21: q07 RETIRED on clean evidence (the r20 verdict's retirement
# condition): across every r20/r21 full run on the restructured kernel the
# heavy cpu band is 2.0-3.2 s with bit-identical counters and no excursion
# class (r20: 2.01-2.46 over ten runs + 2.66/3.16 on the 64 GB rehearsals;
# r21: in-band every run, see OPTIMIZATION_r21.md "Round band") — and at
# a ~2.5 s committed cpu the entry sits at the 3 s adjudication floor
# anyway, so the normal bands now rule it like any other entry.
CPI_FRAGILE = {"s11_knn_graph_ivf"}
# run-scoped JIT compile-shape bimodality — same adjudication semantics as
# CPI_FRAGILE (counters rule the envelope, cpu advisory), different
# mechanism and label. EMPTY since r17: s10's pre-r16 slow mode (15-19.5
# cpu_s) never appeared across the seven r16 committed runs NOR the r16
# driver run (7.1) on the TopKPair kernel — the pathological compile shape
# belonged to the old UnsafeProjection/comparator update path, which no
# longer exists. Dropping the tag re-arms the normal cpu bands for s10
# (committed ~4-7 cpu_s -> mid band, reopen at 2x), so a returning slow
# mode reads as the regression it would now be. (r16 verdict item 2;
# history: BUILD_NOTES r15 "s10 7.5-19.5 across five runs, coefficient
# ~0.73 i.e. NOT contention".)
# r20: q105 and d18 re-enter the set with fresh same-tree evidence under
# the noop-sink timed action (which now measures their full kernels —
# both were partially pruned under count(), OPTIMIZATION_r20.md §3a):
# q105 main cpu 15.0 <-> 34.5 and d18 main cpu 11.9 <-> 21.1 across the
# r20 band at bit-identical work counters — the r15-documented
# per-merge-round/generated-class JIT churn class (same mechanism as
# t20's NAMED bimodality), where whichever run catches the slow compile
# shape reports ~2x cpu for identical work. Counters rule, as always:
# a real regression moves shuffle/records, and that still counts.
JIT_BIMODAL = {"q105_count_sketch", "d18_weighted_overlap"}
# measured LARGE-HEAP allocation-geometry sensitivity (BUILD_NOTES r17):
# the r16 driver ran Bench under a much larger JVM heap — fingerprinted
# EXACTLY by peak_mem (a 64 GB-heap probe reproduces d22's 6279 MB to the
# megabyte) — and a big heap inflates the cpu_s of allocation-dense
# entries with bit-identical work counters (young-gen working sets stop
# being cache-resident; measured d22 dose-response: 8g heap 33.6-34.5
# cpu_s steady, 64g heap 61.7-111.3 solo, 226.7 in the driver's
# full-inventory context). When the candidate artifact carries the
# geometry tell (tier peak_mem common mode >= MEM_COMMON_MODE_LOUD),
# entries listed here get advisory treatment (HEAP-OK) up to their
# measured ceiling (value = max observed raw cpu ratio + margin); past
# the ceiling, or WITHOUT the geometry tell, the normal bands rule — a
# same-geometry regression still REOPENs.
# Ceiling arithmetic: the geometry tail is an ABSOLUTE cost (it lives in
# the payload sort/shuffle stages), so the admissible RATIO scales with
# the committed base. Worst observed min-of-3 under 64g-class geometry:
# 226.7 cpu_s (the r16 driver, old kernel); r17 committed base 30.5
# (sorted-merge kernel) -> 226.7/30.5 = 7.4, rounded up for the lower
# base. Past ~244 absolute cpu_s the excursion exceeds everything ever
# observed under the mechanism and must be re-examined.
# r18: Bench PINS spark.buffer.pageSize=8m (the heap-derived page size
# WAS the mechanism — BUILD_NOTES r18 dose tables), so r18+ artifact
# pairs should show NO geometry tell and this rule should never arm on
# them; it remains for adjudicating pre-r18 artifacts, where the tell is
# real. A tell on an r18+ pair means the candidate ran a DIFFERENT TREE
# (pin absent) and deserves exactly the scrutiny the normal bands give.
HEAP_SENSITIVE = {"d22_prefix_filter_join": 8.0}

SHUFFLE_STRUCTURE_RATIO = 1.5
# two same-tree same-day r14 runs put a 6.4 s-cpu entry (s05) at 1.68x —
# pure JIT/pass noise — so mid-size entries get a looser band than the
# large ones, whose measured same-tree spread stayed under 1.5x
CPU_REOPEN_RATIO_LARGE = 1.6   # quiet cpu_s >= 10 s
CPU_REOPEN_RATIO_MID = 2.0     # quiet cpu_s in [3, 10) s
CPU_FLOOR_S = 3.0
# raw-ratio backstop: calib normalization may soften the band (a hot
# window IS common-mode) but must never fully absorb a large raw
# excursion — the calib spin is CPI-insensitive by design, so its ratio
# can diverge from how contention actually hit an entry (r15 advice)
CPU_REOPEN_RAW_CAP = 2.5
CALIB_SANE_LO, CALIB_SANE_HI = 0.7, 1.5
# wall advisory: committed sec >= 1 s, ratio normalized by the tier's
# common-mode wall ratio; >= 2x prints (never reopens — counters +
# cpu already ruled)
WALL_FLOOR_S = 1.0
WALL_ADVISORY_RATIO = 2.0
BUILD_CPU_LOUD_RATIO = 3.0
# mem advisory: committed peak_mem >= 256 MB, ratio normalized by the
# tier's common-mode peak_mem ratio; >= 3x prints (never reopens — the
# counters-first discipline; see docstring rule 6 for why normalization
# is mandatory here)
MEM_FLOOR_MB = 256
MEM_ADVISORY_RATIO = 3.0
# a tier whose common-mode peak_mem ratio is itself >= 2x (either way)
# ran under a DIFFERENT MEMORY GEOMETRY (heap-dependent page size) —
# print that loudly once per tier instead of per entry
MEM_COMMON_MODE_LOUD = 2.0
# the build lines' min-of-pass wall/mem often dominates a tier sum —
# exclude them from the common-mode normalizers exactly as they are
# exempt from the per-entry rules (r16 advice)
BUILD_LINES = ("shared_build", "dshared_build")
# lineage throughput bands (docstring rule 7): rate ratios, LOWER = slower
LINEAGE_REOPEN_RATIO = 0.45
LINEAGE_SLOW_RATIO = 0.65
LINEAGE_FAST_RATIO = 2.2
# raw-ratio backstop for rule 7, mirroring CPU_REOPEN_RAW_CAP: a raw rate
# collapse below this floor REOPENs regardless of calib credit — a skewed
# calib_r > 1 must never silently lift a genuine regression past the gate
# (r19 advice, low)
LINEAGE_REOPEN_RAW_FLOOR = 0.33


def load(arg):
    if arg.startswith("git:"):
        raw = subprocess.check_output(["git", "show", f"{arg[4:]}:bench_details.json"])
        return json.loads(raw)
    with open(arg) as f:
        return json.load(f)


def ratio(a, b):
    return a / b if b and b > 0 else float("inf") if a and a > 0 else 1.0


def adjudicate(name, base, cand, calib_r=None, wall_r=None, mem_r=None,
               mem_sums=None):
    def has(d, k):
        return isinstance(d.get(k), (int, float)) and d[k] >= 0

    # rule 6: entry-specific peak_mem inflation, normalized by the tier's
    # common-mode memory-geometry ratio. Computed up front so the note can
    # ride along on ANY cpu-family verdict (a REOPEN with a genuine memory
    # signature must say so, not just an OK entry).
    mem_note = ""
    bm, cm = base.get("peak_mem_mb"), cand.get("peak_mem_mb")
    if (isinstance(bm, (int, float)) and isinstance(cm, (int, float))
            and bm >= MEM_FLOOR_MB and cm >= 0):
        rm = ratio(cm, bm)
        rmn = rm / mem_r if mem_r else rm
        if rmn >= MEM_ADVISORY_RATIO:
            mem_note = (f"; MEM peak_mem {bm:.0f} -> {cm:.0f} MB ({rm:.1f}x raw"
                        + (f", {rmn:.1f}x tier-normalized" if mem_r else "")
                        + ") — entry-specific memory inflation")

    # an entry that failed every pass writes the Failed sentinel
    # {sec:-1, rows:-1} — a broken query must never pass quietly (and the
    # rows=-1 build-line exemption below must not swallow it)
    if base.get("sec") == -1 or cand.get("sec") == -1:
        side = "committed" if base.get("sec") == -1 else "candidate"
        return ("FAILED", f"entry failed every pass in the {side} run "
                "(sec:-1 sentinel) — inspect the run log")

    # shared_build / dshared_build carry a rows=-1 sentinel (no result
    # cardinality) and their other counters are pass-DEPENDENT by design:
    # the reported min picks whichever pass rebuilt the least, e.g. one
    # where a cross-pass memo was already warm — so neither the
    # exact-invariant rules nor the cpu bands apply. zpanel_build is NOT
    # exempt: it is timed exactly once per run (no min-of-passes), so its
    # records_read/shuffle_records ARE run-invariants and it flows through
    # the normal rules below (rows -1 == -1 compares equal in rule 1).
    if name in ("shared_build", "dshared_build"):
        msg = (f"build line, min-of-pass semantics: cpu "
               f"{base.get('cpu_s')} -> {cand.get('cpu_s')} (informational; "
               "counters pass-dependent by design)")
        # quiet by default, but an extreme build-cpu swing must print —
        # a shared-build blow-up is real cost even if no rule bands it
        # (r15 advice: the message was formatted and then never shown)
        bcpu, ccpu = base.get("cpu_s"), cand.get("cpu_s")
        if (isinstance(bcpu, (int, float)) and isinstance(ccpu, (int, float))
                and bcpu > 0 and ccpu > 0):
            br = ratio(ccpu, bcpu)
            if br >= BUILD_CPU_LOUD_RATIO or 1 / br >= BUILD_CPU_LOUD_RATIO:
                return ("BUILD-LOUD", msg + f" — {br:.2f}x, inspect")
        return ("BUILD", msg)

    # pre-r14 artifacts lack work counters — say so instead of passing.
    # rows may be the -1 no-cardinality sentinel (zpanel_build): equality
    # on sentinels is still a valid rule-1 check, so only records_read
    # must be a real count.
    def present(d, k):
        return isinstance(d.get(k), (int, float))
    counters = (all(present(d, k) for d in (base, cand)
                    for k in ("records_read", "rows"))
                and has(base, "records_read") and has(cand, "records_read"))
    if counters:
        if base["records_read"] != cand["records_read"] or base["rows"] != cand["rows"]:
            return ("STRUCTURE", "records_read/rows moved: "
                    f"{base['records_read']}/{base['rows']} -> "
                    f"{cand['records_read']}/{cand['rows']}")
        if has(base, "shuffle_records") and has(cand, "shuffle_records"):
            bs, cs = base["shuffle_records"], cand["shuffle_records"]
            # a shuffle appearing from zero or vanishing to zero is a plan
            # change (e.g. a broadcast-join conversion) that the symmetric
            # ratio test cannot see — ratio(0, n>0) is 0.0 and 1/r is inf
            # but the old guard `r > 0` skipped it (r14 advice, medium)
            if (bs == 0) != (cs == 0):
                return ("STRUCTURE", f"shuffle appeared/vanished: "
                        f"shuffle_records {bs} -> {cs}")
            r = ratio(cs, bs)
            if r >= SHUFFLE_STRUCTURE_RATIO or (r > 0 and 1 / r >= SHUFFLE_STRUCTURE_RATIO):
                return ("STRUCTURE", f"shuffle_records {bs} -> {cs} ({r:.2f}x)")
    if cand.get("spill_mb", 0) > 0 and base.get("spill_mb", 0) == 0:
        return ("STRUCTURE", f"spill {cand['spill_mb']} MB where committed 0")
    bc, cc = base.get("cpu_s", -1), cand.get("cpu_s", -1)
    if bc is None or bc < 0 or cc is None or cc < 0:
        return ("UNATTRIBUTED", "cpu_s sentinel in one side; counters "
                + ("checked clean" if counters else "ABSENT (pre-r14 artifact)"))
    if bc < CPU_FLOOR_S:
        # with counters the entry IS ruled (rules 1-3 ran above): quiet.
        # without them nothing at all was checked — surface that instead
        # of passing silently (r14 advice, low)
        if counters:
            return ("FLOOR", f"committed cpu {bc:.1f}s < {CPU_FLOOR_S}s — "
                    "wall/cpu not adjudicable; counters checked clean")
        return ("FLOOR-UNCHECKED", f"committed cpu {bc:.1f}s < {CPU_FLOOR_S}s "
                "AND counters absent (pre-r14) — nothing checked, inspect manually")
    r = ratio(cc, bc)
    # normalize by the per-artifact fixed-work calibration when both runs
    # carry it: rn is "how much hotter than the window" the entry ran
    rn = r / calib_r if calib_r else r
    def cpus(tag=""):
        out = f"cpu {bc:.1f} -> {cc:.1f} ({r:.2f}x raw"
        out += f", {rn:.2f}x calib-normalized" if calib_r else ""
        return out + f"){tag}"
    if name in CPI_FRAGILE:
        return ("FRAGILE-OK" if counters else "FRAGILE",
                cpus(" advisory; ")
                + ("work counters identical" if counters else "counters ABSENT — inspect manually")
                + mem_note)
    if name in JIT_BIMODAL:
        return ("BIMODAL-OK" if counters else "BIMODAL",
                cpus(" advisory (measured same-tree bimodality); ")
                + ("work counters identical" if counters else "counters ABSENT — inspect manually")
                + mem_note)
    # candidate-BIGGER geometry only: a candidate on a SMALLER heap than
    # the committed baseline cannot blame the big-heap mechanism for a
    # slow entry (the mechanism runs the other way), so only mem_r >= 2
    # arms the advisory — the inverse direction keeps the normal bands.
    # The tell is computed LEAVE-ONE-OUT (the adjudicated entry's own
    # peak_mem excluded from both tier sums): in a tier where a
    # heap-sensitive entry dominates the peak_mem sum, an entry-SPECIFIC
    # memory blowup could otherwise self-arm its own cpu advisory ceiling
    # and downgrade a genuine REOPEN to HEAP-OK (r17 advice). Falls back
    # to the plain tier ratio when the leave-one-out sums degenerate
    # (entry absent from the normalizer, or a single-entry tier).
    loo_mem_r = mem_r
    if mem_sums is not None:
        msum_b, msum_c = mem_sums
        # subtract ONLY when the entry was accumulated into the sums in the
        # first place — accumulation required peak_mem > 0 on BOTH sides, so
        # the subtraction must be paired too: an entry with peak_mem on one
        # side only would otherwise be subtracted from a sum that never
        # included it, skewing loo_mem_r (r18 advice)
        paired = (isinstance(bm, (int, float)) and bm > 0
                  and isinstance(cm, (int, float)) and cm > 0)
        if paired:
            lb, lc = msum_b - bm, msum_c - cm
            if lb > 0 and lc > 0:
                loo_mem_r = lc / lb
    geometry_tell = loo_mem_r is not None and loo_mem_r >= MEM_COMMON_MODE_LOUD
    if name in HEAP_SENSITIVE and geometry_tell and r < HEAP_SENSITIVE[name]:
        return ("HEAP-OK" if counters else "HEAP",
                cpus(" advisory (measured large-heap allocation-geometry "
                     f"sensitivity, ceiling {HEAP_SENSITIVE[name]}x, tier "
                     "geometry tell present); ")
                + ("work counters identical" if counters else
                   "counters ABSENT — inspect manually")
                + mem_note)
    cap = CPU_REOPEN_RATIO_LARGE if bc >= 10 else CPU_REOPEN_RATIO_MID
    if rn >= cap:
        return ("REOPEN", cpus(f" >= {cap}x")
                + ("" if counters else "; counters absent (pre-r14)") + mem_note)
    # raw-ratio backstop: normalization softened the band below the cap,
    # but the raw excursion is past what any common-mode hotness has ever
    # measured — refuse to let calib absorb it (r15 advice)
    if calib_r and r >= CPU_REOPEN_RAW_CAP:
        return ("REOPEN", cpus(f" raw >= {CPU_REOPEN_RAW_CAP}x cap "
                "(calib-normalized inside band, but the raw excursion "
                "exceeds any measured common-mode hotness)") + mem_note)
    # wall advisory — cpu + counters ruled the envelope clean; surface
    # wall-only inflation (e.g. a new exchange or scheduling stall) that
    # the cpu rules cannot see. Normalized by the tier's common-mode wall
    # ratio so a uniformly slower run does not spray advisories.
    bw, cw = base.get("sec", -1), cand.get("sec", -1)
    if (isinstance(bw, (int, float)) and isinstance(cw, (int, float))
            and bw >= WALL_FLOOR_S and cw > 0):
        rw = ratio(cw, bw)
        rwn = rw / wall_r if wall_r else rw
        if rwn >= WALL_ADVISORY_RATIO:
            return ("WALL", f"wall {bw:.2f} -> {cw:.2f} ({rw:.2f}x raw"
                    + (f", {rwn:.2f}x tier-normalized" if wall_r else "")
                    + f") >= {WALL_ADVISORY_RATIO}x with " + cpus()
                    + " — advisory (cpu + counters clean; wall never reopens)"
                    + mem_note)
    if mem_note:
        return ("MEM", cpus() + mem_note
                + " — advisory (cpu + counters clean; mem never reopens)")
    return ("OK", cpus())


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base_all, cand_all = load(sys.argv[1]), load(sys.argv[2])
    # PROTOCOL BOUNDARY (r20 ADVICE): the timed action changed in r20 from
    # count() to the noop sink + observe — a cross-boundary compare (a
    # pre-r20 committed artifact vs an r20+ candidate, reachable via
    # git:REF) misreads the methodology delta as a regression on every
    # count-pruned entry (t17 0.01 -> 6.24 cpu_s is protocol, not plan).
    # r21+ artifacts self-identify via `timed_action`; an artifact without
    # the tag that predates r20's noop band (BENCH_r01-r19) is
    # count-protocol. There is no reliable in-artifact discriminator for
    # the r20 band itself, so the warning names the boundary instead of
    # guessing.
    proto_b = base_all.get("timed_action")
    proto_c = cand_all.get("timed_action")
    if proto_b != proto_c:
        print("[protocol WARNING] artifacts declare different timed-action "
              f"protocols (committed={proto_b!r}, candidate={proto_c!r}). "
              "If the untagged side predates the r20 count()->noop fix "
              "(BENCH_r01-r19 / commits before 15226ad), every "
              "count-pruned entry's cpu/counter delta below is METHODOLOGY, "
              "not a plan change — adjudicate only same-protocol pairs "
              "(r20+ vs r20+).")
    def calib(d):
        v = d.get("calib_cpu_s")
        return v if isinstance(v, (int, float)) and v > 0 else None
    calib_r = None
    if calib(base_all) and calib(cand_all):
        calib_r = calib(cand_all) / calib(base_all)
        print(f"[calib_cpu_s] committed {calib(base_all)} candidate {calib(cand_all)} "
              f"-> cpu ratios normalized by {calib_r:.3f}x")
        if not (CALIB_SANE_LO <= calib_r <= CALIB_SANE_HI):
            print(f"[calib WARNING] calib ratio {calib_r:.3f}x outside the sane "
                  f"band [{CALIB_SANE_LO}, {CALIB_SANE_HI}] — normalization is "
                  "SUSPECT (skewed sample or a genuinely pathological window); "
                  f"the {CPU_REOPEN_RAW_CAP}x raw cap still applies, treat "
                  "normalized ratios as advisory and inspect raw")
    bad = 0
    unadjudicable = 0
    for tier in ("queries", "heavy_10x"):
        print(f"=== {tier} ===")
        # common-mode wall + peak_mem ratios over the tier's shared,
        # successfully-timed entries (build lines excluded — their
        # min-of-pass values often dominate a tier sum and would skew the
        # normalizers, r16 advice): normalize the per-entry wall/mem
        # advisories the way calib normalizes cpu (a uniformly slower or
        # bigger-paged run is not N advisories)
        bsum = csum = 0.0
        msum_b = msum_c = 0.0
        for name, b in base_all.get(tier, {}).items():
            c = cand_all.get(tier, {}).get(name)
            if name in BUILD_LINES or not isinstance(b, dict) or not isinstance(c, dict):
                continue
            if (isinstance(b.get("sec"), (int, float)) and b["sec"] > 0
                    and isinstance(c.get("sec"), (int, float)) and c["sec"] > 0):
                bsum += b["sec"]
                csum += c["sec"]
            if (isinstance(b.get("peak_mem_mb"), (int, float)) and b["peak_mem_mb"] > 0
                    and isinstance(c.get("peak_mem_mb"), (int, float)) and c["peak_mem_mb"] > 0):
                msum_b += b["peak_mem_mb"]
                msum_c += c["peak_mem_mb"]
        wall_r = csum / bsum if bsum > 0 else None
        if wall_r:
            print(f"  [tier wall] committed {bsum:.1f}s candidate {csum:.1f}s "
                  f"-> wall ratios normalized by {wall_r:.3f}x")
        mem_r = msum_c / msum_b if msum_b > 0 else None
        if mem_r:
            print(f"  [tier peak_mem] committed {msum_b:.0f} MB candidate "
                  f"{msum_c:.0f} MB -> mem ratios normalized by {mem_r:.3f}x")
            if mem_r >= MEM_COMMON_MODE_LOUD or 1 / mem_r >= MEM_COMMON_MODE_LOUD:
                print(f"  [mem WARNING] tier-wide peak_mem common mode {mem_r:.2f}x "
                      "— the candidate ran under a DIFFERENT JVM MEMORY GEOMETRY "
                      "(execution-memory acquisition scales with heap-dependent "
                      "Tungsten page size; see docstring rule 6). Entry-level MEM "
                      "ratios are normalized by this; cpu ratios are NOT affected "
                      "by page size, so the cpu rules still rule.")
        for name, b in sorted(base_all.get(tier, {}).items()):
            c = cand_all.get(tier, {}).get(name)
            if not isinstance(b, dict) or not isinstance(c, dict):
                print(f"  MISSING       {name}")
                bad += 1
                continue
            verdict, why = adjudicate(name, b, c, calib_r, wall_r, mem_r,
                                      mem_sums=(msum_b, msum_c))
            if verdict in ("STRUCTURE", "REOPEN", "FRAGILE", "BIMODAL", "HEAP", "FAILED"):
                bad += 1
            if verdict == "FLOOR-UNCHECKED":
                unadjudicable += 1
            # OK, (counter-checked) FLOOR and BUILD lines are the quiet
            # norm — print only what needs a human
            if verdict not in ("OK", "FLOOR", "BUILD"):
                print(f"  {verdict:13s} {name}: {why}")
        # candidate-only entries (new or renamed) would otherwise never
        # appear in any verdict — inventory drift must be visible
        # (r14 advice, low)
        for name in sorted(set(cand_all.get(tier, {})) - set(base_all.get(tier, {}))):
            print(f"  NEW           {name}: absent from committed baseline")
    # rule 7: lineage-engine throughput — the product's own analysis loop
    # gets the same committed-vs-candidate treatment as the query entries
    # (r18 verdict item 2: a 0.39x driver sample had no verdict row)
    def lineage_rates(d):
        v = d.get("lineage_plans_per_sec")
        return v if isinstance(v, dict) else {}
    bl, cl = lineage_rates(base_all), lineage_rates(cand_all)
    for mode in sorted(set(bl) | set(cl)):
        b, c = bl.get(mode), cl.get(mode)
        if not (isinstance(b, (int, float)) and b > 0
                and isinstance(c, (int, float)) and c > 0):
            if isinstance(b, (int, float)) and b > 0:
                # base-present / candidate-absent is a regress-to-absent:
                # the metric the committed artifact carried vanished, which
                # must count toward exit exactly like a MISSING query entry
                # (r19 advice, low)
                bad += 1
                print(f"[lineage {mode}] MISSING from candidate "
                      f"(committed {b:.0f} plans/s) — the tracked metric "
                      "vanished; counts toward exit")
            else:
                # candidate-only mode: inventory growth, NEW-style advisory
                print(f"[lineage {mode}] NEW in candidate ({c} plans/s, "
                      "absent from committed) — advisory only")
            continue
        r = c / b
        # a hot candidate window DEPRESSES a rate, so the common-mode
        # credit multiplies (inverse of the cpu rule's division). When the
        # calib ratio itself is outside the sane band the normalization is
        # SUSPECT (same reasoning as the cpu rule's warning): fall back to
        # the raw ratio so a skewed calib_r > 1 cannot lift a genuinely
        # regressed rate past the gate (r19 advice, low)
        calib_ok = calib_r and CALIB_SANE_LO <= calib_r <= CALIB_SANE_HI
        rn = r * calib_r if calib_ok else r
        desc = (f"[lineage {mode}] committed {b:.0f} candidate {c:.0f} "
                f"plans/s ({r:.2f}x raw"
                + (f", {rn:.2f}x calib-credited" if calib_ok else
                   (", calib SUSPECT — raw ratio rules" if calib_r else ""))
                + ")")
        if r < LINEAGE_REOPEN_RAW_FLOOR:
            # raw-ratio backstop, mirroring the cpu rule's
            # CPU_REOPEN_RAW_CAP: no amount of common-mode credit may
            # absorb a raw collapse past the floor (r19 advice, low)
            bad += 1
            print(desc + f" raw < {LINEAGE_REOPEN_RAW_FLOOR}x floor — "
                  "LINEAGE-REOPEN: raw collapse past what any measured "
                  "common-mode hotness explains; probe driver-side "
                  "(FlowAnalysis.analyze/contract over the Bench lineage panel)")
        elif rn < LINEAGE_REOPEN_RATIO:
            bad += 1
            print(desc + f" < {LINEAGE_REOPEN_RATIO}x — LINEAGE-REOPEN: the "
                  "product's own analysis loop regressed past the band; "
                  "probe driver-side (FlowAnalysis.analyze/contract over the Bench lineage panel)")
        elif rn < LINEAGE_SLOW_RATIO:
            print(desc + f" < {LINEAGE_SLOW_RATIO}x — LINEAGE-SLOW advisory "
                  "(inside the multimodal estimator band; compare the other "
                  "mode's ratio — asymmetry means a section-start transient "
                  "under the pre-r19 sequential protocol)")
        elif rn > LINEAGE_FAST_RATIO:
            print(desc + f" > {LINEAGE_FAST_RATIO}x — LINEAGE-FAST advisory "
                  "(different machine or measurement protocol)")
        else:
            print(desc)
    for tot in ("total_cpu_s", "heavy_total_cpu_s"):
        if tot in base_all and tot in cand_all:
            print(f"[{tot}] committed {base_all[tot]} candidate {cand_all[tot]} "
                  f"({ratio(float(cand_all[tot]), float(base_all[tot])):.2f}x)")
    if unadjudicable:
        print(f"{unadjudicable} entries unadjudicable (FLOOR-UNCHECKED, pre-r14 baseline)")
    print(f"{bad} entries need attention")
    sys.exit(min(bad, 125))


if __name__ == "__main__":
    main()
