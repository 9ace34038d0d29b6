#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _release_state(spark) -> None:
    """Full between-queries state release. clearCache drops the SQL
    cache but NOT the block-manager entries behind localCheckpoint'd
    RDDs (the iterative operators' per-round materializations) — those
    are freed by the async ContextCleaner only after a driver GC
    notices the references died. Over a 36-query bench the leftovers
    compound: measured dedup_clusters@sf1 at 56 s late in the run vs
    10 s in a fresh JVM. Explicitly unpersist every persistent RDD and
    nudge a JVM GC so each query starts from the same clean state."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()


GRADED_SF_DIR = "/root/testdata/sf0.1"
GRADED_CPUS = 32


def resolve_artifact_path(
    repo_dir: str,
    contaminated: bool,
    sf_dir: str = GRADED_SF_DIR,
    cpus: int = GRADED_CPUS,
) -> str:
    """Committed-record guard (round-6 VERDICT directive #1): a run
    whose canary self-flags contaminated in EITHER section must not
    silently become the committed BENCH_result.json — round 6's final
    snapshot overwrote a canary-clean artifact with a contaminated one.
    Contaminated payloads land in BENCH_result.rejected.json (gitignored
    evidence, never the record) unless SPARK_GRAFT_ALLOW_CONTAMINATED=1
    explicitly overrides (e.g. a machine where clean is unattainable and
    the reader accepts the flag).

    A run at any OTHER scale factor is likewise diverted (to the
    gitignored BENCH_result.local.json): the committed record means
    "the graded sf0.1 configuration", and an sf0.001 smoke run that
    happens to finish with clean canaries must not replace it (this
    exact near-miss happened in round 7's code-path testing). The
    comparison is realpath-normalized (round-8 ADVICE): a symlinked or
    relative alias of the graded dir must not divert a genuinely
    graded clean run to the local file. A run at any other core count
    is diverted the same way: the record is graded at GRADED_CPUS, and
    a clean 8-cpu run once replaced the 32-cpu record."""
    if contaminated and os.environ.get("SPARK_GRAFT_ALLOW_CONTAMINATED") != "1":
        return os.path.join(repo_dir, "BENCH_result.rejected.json")
    if (
        os.path.realpath(sf_dir) != os.path.realpath(GRADED_SF_DIR)
        or cpus != GRADED_CPUS
    ):
        return os.path.join(repo_dir, "BENCH_result.local.json")
    return os.path.join(repo_dir, "BENCH_result.json")


# Keys that belong to each canary-certified section of the payload —
# substitution swaps a section wholesale so numbers and their evidence
# (draws, loadavg, canary) never mix across runs.
SF01_SECTION_KEYS = (
    "value", "queries", "draws", "loadavg", "canary",
    "pipeline_e2e_sec", "pipeline_scale_sec", "pipeline_scale_input_bytes",
)
SF1_SECTION_KEYS = (
    "sf1_queries", "sf1_ratio_vs_sf0.1", "sf1_total", "sf1_canary",
    "sf1_loadavg", "sf1_draws", "incremental_scale_sec",
)

# Mid-section canary rule (round 8): the start/end canary pair misses a
# tenancy burst that arrives and LEAVES within a section. The observed
# case (2026-08-16 re-run, preserved in BENCH_result.rejected.json): the
# sf1 end drift read 1.22 — "clean" — while the training/graph rows in
# the middle of the section ran 2-3x their idle-box floor, inflating
# sf1_total 148 → 217 s. A sustained mid-run load also defeats the
# per-row spread re-draw (both draws inflate equally, so max/min looks
# fine). Interleaved q1 readings every ~10 benched rows close the gap:
# q1 is deep-warm by mid-section, so a mid reading far above the
# CLEANER of the section's start/end canaries is machine load, not
# warmup. 1.6x keeps margin over clean-run jitter — deep-warm mid
# readings normally sit at or BELOW the start canary (C2-settled), and
# the burst that matters showed 2-3x.
MID_CANARY_DRIFT_MAX = 1.6


def mid_canary_drift(mids: list[float], floor: float) -> float | None:
    """max(mid-section canary readings) / the section's clean canary
    floor (min of start/end), or None when either side is missing."""
    if not mids or not floor or floor <= 0:
        return None
    return round(max(mids) / floor, 2)


def mid_canary_flag(
    mids: list[float], floor: float
) -> tuple[float | None, int, bool]:
    """(max ratio, count of spiked readings, contaminated). The flag
    needs TWO readings over threshold, not one: a lone spike that
    survives the settle-retry is still most often the JVM digesting the
    preceding heavy row (observed 0.83 s q1 after dedup_clusters with
    the retry, on a box whose loadavg said busy-from-our-own-runs, not
    neighbors), while the burst worth rejecting a section over spans
    multiple sample points — the 2026-08-16 case inflated ~15
    consecutive sf1 rows ≈ 2 readings at 8-row spacing. A single spike
    stays visible in the canary dict's mid_secs for eyeballing."""
    ratio = mid_canary_drift(mids, floor)
    if ratio is None:
        return None, 0, False
    n_over = sum(1 for m in mids if m / floor > MID_CANARY_DRIFT_MAX)
    return ratio, n_over, n_over >= 2


def start_cold_rescue(
    drift: float,
    mids: list[float],
    n_over: int,
    loadavg_start: float | None,
) -> bool:
    """Reclassify a sub-0.55-drift flag as the deep-idle COLD-start
    mode when the section's interior says the machine was clean.

    The two-sided drift rule's known conservative false-flag (round-7
    note below): a box idled to loadavg < ~0.2 reads a slow START
    canary (CPU-frequency/cache cold start, 0.5-2.6 s vs the 0.4 s warm
    norm), drift lands under 0.55, and a genuinely clean 50-min run is
    diverted — observed four times across rounds 7-8. When that note
    was written the low-drift signature was indistinguishable from a
    loaded start; the interleaved mid-section canaries added in round 8
    break the tie: a LOADED start stays loaded into the section (hot
    early mids and/or high loadavg_start), while a COLD start is warm
    by the first mid reading. Rescue only when every interior reading
    is quiet (zero mids over MID_CANARY_DRIFT_MAX) and the start
    loadavg was under the hard-flag bar; the 0.55 bound itself is
    untouched for runs without mid evidence."""
    return (
        drift < 0.55
        and bool(mids)
        and n_over == 0
        and (loadavg_start is None or loadavg_start <= 8)
    )


def substitute_clean_sections(
    payload: dict, record: dict | None
) -> tuple[dict, list[str]]:
    """Round-7 VERDICT directive #2: the driver's BENCH_r{N}.json is a
    capture of this process's stdout, so when a section's fresh canary
    self-flags contaminated, the PRINTED payload must not embed the
    poisoned draws next to the flag — round 7's driver artifact carried
    sf1 numbers its own canary disowned. Swap any contaminated section
    for the same section of the last-known-clean committed record
    (``BENCH_result.json``), keeping provenance (the record's commit)
    and the fresh canary as evidence of why. The FRESH measurements are
    untouched — they still go wherever resolve_artifact_path routes
    them (BENCH_result.rejected.json when contaminated); substitution
    only shapes what is emitted as the primary payload. Returns
    (emitted payload, list of substituted section names)."""
    emit = dict(payload)
    subbed: list[str] = []
    if not record:
        return emit, subbed
    # Config-keyed (round-8 VERDICT directive): a substituted section
    # must come from a record measured under the SAME run configuration.
    # Round 8's 8-CPU driver run self-flagged its sf0.1 section and the
    # guard swapped in the committed 32-CPU record wholesale, so every
    # PERF scaling ratio read exactly 1.0 and the driver concluded the
    # bench ignored $SPARK_GRAFT_CPUS. A record with no `cpus` stamp
    # (pre-round-9) cannot prove config equality — refuse.
    rec_cfg = (record.get("cpus"), record.get("sf"))
    fresh_cfg = (payload.get("cpus"), payload.get("sf"))
    if rec_cfg[0] is None or rec_cfg != fresh_cfg:
        print(
            f"# ** substitution refused: record config {rec_cfg} != fresh "
            f"config {fresh_cfg} (cpus, sf) — a section measured under a "
            f"different configuration must not impersonate this run's",
            file=sys.stderr,
        )
        return emit, subbed
    prov = record.get("commit")

    def swap(keys: tuple[str, ...], fresh_canary: dict, tag: str) -> None:
        for k in keys:
            if k in record:
                emit[k] = record[k]
            elif k in emit:
                del emit[k]
        emit[f"{tag}_substituted"] = {
            "from_commit": prov,
            "reason": "fresh section canary flagged contaminated",
            "fresh_canary": fresh_canary,
        }
        subbed.append(tag)

    fresh_main = payload.get("canary", {})
    rec_main = record.get("canary", {})
    if fresh_main.get("contaminated") and rec_main and not rec_main.get(
        "contaminated", True
    ):
        swap(SF01_SECTION_KEYS, fresh_main, "sf0.1")
    fresh_sf1 = payload.get("sf1_canary")
    rec_sf1 = record.get("sf1_canary")
    if (
        fresh_sf1
        and fresh_sf1.get("contaminated")
        and rec_sf1
        and not rec_sf1.get("contaminated", True)
    ):
        swap(SF1_SECTION_KEYS, fresh_sf1, "sf1")
    return emit, subbed


def _git_head(repo_dir: str) -> str | None:
    """Short commit hash stamped into every payload so a substituted
    section can cite exactly which build produced its numbers."""
    try:
        import subprocess

        return subprocess.run(
            ["git", "-C", repo_dir, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip() or None
    except Exception:  # noqa: BLE001 - provenance is best-effort
        return None


def _loadavg() -> float | None:
    """1-minute load average, rounded — the per-query tenancy record.
    Round 4's official artifact read as a uniform 1.5x regression that
    forensics traced to neighbor load; embedding the machine condition
    per query lets the artifact self-certify (or indict) its run."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - non-POSIX
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # the core count this run will actually use (session.py builds
    # local[$SPARK_GRAFT_CPUS]) — stamped into the payload so the
    # substitution guard can key on run configuration and the driver
    # can detect which configuration produced any section it reads
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    from pyspark.sql import functions as F

    from vul_dbgen_spark.queries.catalog import REGISTRY
    from vul_dbgen_spark.session import get_spark

    spark = get_spark("vul_dbgen_spark_bench")
    # warm the JVM once so per-query numbers measure the engine, not
    # first-call classloading: codegen, the parquet reader, a shuffle,
    # and a broadcast join each lazily load classes on first use
    warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    warm.join(warm.selectExpr("r_regionkey as k"), warm.r_regionkey == F.col("k")).groupBy(
        "r_name"
    ).count().collect()
    # ... and the lazily-initialized execution paths the headline queries
    # hit first otherwise: the Arrow python-worker pool (pandas UDFs),
    # WindowExec, and generate/explode codegen each cost seconds on
    # first use and belong to the JVM/daemon lifecycle, not the query
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    # lambda (no type hints): the module's postponed annotations would
    # otherwise reach pandas_udf as unresolvable strings
    _warm_udf = pandas_udf(lambda s: s * 1.0, "double")
    spark.range(1000).select(F.sum(_warm_udf(F.col("id").cast("double")))).collect()
    (
        spark.range(1000)
        .select(F.col("id"), F.explode(F.array(F.lit(1), F.lit(2))).alias("x"))
        .withColumn(
            "r", F.sum("x").over(Window.partitionBy(F.col("id") % 7).orderBy("id"))
        )
        .groupBy("r")
        .count()
        .collect()
    )

    # best of 2 runs per query: this box shares the machine with other
    # load (observed ±20% run-to-run noise), so a single sample measures
    # the neighbor's compile job as often as the engine. The cache is
    # cleared between repeats, so each run re-executes the full lineage
    # (persist() calls inside operators never carry over) — the repeat
    # only removes load spikes, not work.
    # 3 repeats (was 2): observed shared-box noise is bimodal — a run
    # can land 2-4× off when a neighbor bursts — and with 2 samples the
    # min still inherits one bad draw too often. The third sample costs
    # ~1 min at sf0.1 and stabilizes the min to the warm-engine number.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    def timed_draws(spec, d: str, n_draws: int) -> tuple[list[float], int]:
        """One untimed warm run (plan-specific codegen/classloading
        belongs to JVM warmup, not the engine — measured 1.5-2x on the
        first draw even after the generic warmup above), then n timed
        draws of the full lineage (state released between draws, so the
        repeat removes load spikes, not work)."""
        draws, n = [], 0
        for i in range(n_draws + 1):
            _release_state(spark)
            t0 = time.perf_counter()
            n = spec.fn(spark, d).count()
            if i > 0:
                draws.append(time.perf_counter() - t0)
        return draws, n

    def mid_canary_reading(spec, d: str, floor_hint: float) -> float:
        """One interleaved mid-section canary reading. A spike is
        re-measured once after a 10 s settle: a reading taken right
        after a heavy iterative row can measure the JVM digesting that
        row's state, not the machine — observed 2.0 s q1 (6.9x) right
        after dedup_clusters on an idle box (loadavg 2.4) in the
        round-8 smoke run. Digestion decays within seconds; a neighbor
        burst persists through the settle and keeps the reading high."""
        mid = min(timed_draws(spec, d, 2)[0])
        if mid > MID_CANARY_DRIFT_MAX * floor_hint:
            time.sleep(10)
            mid = min(mid, min(timed_draws(spec, d, 2)[0]))
        return mid

    # condition canary, start-of-run reading: q1 is a light scan-agg
    # (no GC-heavy state), so its drift between the first and last
    # moments of the bench measures the MACHINE, not the engine. The
    # round-4 official artifact was silently load-contaminated (uniform
    # ~1.5x vs matched-conditions runs); with the canary pair + the
    # per-query loadavg below, an artifact now carries the evidence to
    # distinguish tenancy from regression.
    canary_spec = REGISTRY["q1_pricing_summary"]
    # settle the JIT before the start reading: even after timed_draws'
    # own warm pass, q1 keeps speeding up for several draws (C2 tiering
    # of the scan/agg paths — measured 0.52 → 0.24 s over a full sf0.01
    # run), and an inflated start baseline both masks a real end-of-run
    # slowdown and trips the two-sided drift flag on a clean run. Three
    # extra warm draws cost ~1 s and close most of that gap; the
    # remaining steady drift floor is encoded in the lower bound below.
    timed_draws(canary_spec, sf_dir, 3)
    canary_start = min(timed_draws(canary_spec, sf_dir, 3)[0])
    loadavg_start = _loadavg()
    if loadavg_start is not None and loadavg_start > 8:
        # a 1-min loadavg decays slowly (exp, ~60 s time constant): when
        # the bench launches right after other heavy IN-PROCESS work
        # (the driver's correctness phase), a reading of ~20 needs
        # ~55 s of idle just to cross 8 — a single 30 s settle flagged
        # genuinely clean runs (round-7 ADVICE). Settle in a bounded
        # LOOP until the loadavg drops below the threshold (≤ 5 min
        # total — enough for any decay-lag case; a loadavg still >8
        # after 5 idle minutes means real neighbor load), then
        # re-measure the canary once.
        waited = 0
        while loadavg_start is not None and loadavg_start > 8 and waited < 300:
            print(f"# start loadavg {loadavg_start} > 8 — settling 30s "
                  f"({waited}s waited)", file=sys.stderr)
            time.sleep(30)
            waited += 30
            loadavg_start = _loadavg()
        if loadavg_start is not None and loadavg_start > 8:
            # the cap expired with loadavg still over threshold: real
            # neighbor load, and the run will be flagged contaminated
            # on that reading regardless — skip the canary re-measure
            # (a warm pass + 3 timed draws on a known-loaded box buys
            # nothing; round-8 ADVICE), and under the scripted
            # re-run-until-clean contract bail before spending ~45 min
            # on a bench destined for BENCH_result.rejected.json
            print(f"# ** settle cap expired with loadavg {loadavg_start} "
                  f"> 8 — skipping canary re-measure; run will be flagged",
                  file=sys.stderr)
            if os.environ.get("SPARK_GRAFT_REQUIRE_CLEAN") == "1":
                print("# ** SPARK_GRAFT_REQUIRE_CLEAN=1 — bailing before "
                      "the full bench (no artifact written)", file=sys.stderr)
                sys.exit(3)
        else:
            canary_start = min(
                canary_start, min(timed_draws(canary_spec, sf_dir, 3)[0])
            )
    print(f"# canary q1 start: {canary_start:.3f}s (loadavg {loadavg_start})",
          file=sys.stderr)

    timings: dict[str, float] = {}
    all_draws: dict[str, list[float]] = {}
    loadavgs: dict[str, float | None] = {}
    mid_canaries: list[float] = []
    total = 0.0
    benched_i = 0
    for name, spec in REGISTRY.items():
        if not spec.bench:
            continue
        loadavgs[name] = _loadavg()
        draws, n = timed_draws(spec, sf_dir, repeats)
        # a >1.5x spread between draws of identical work means a
        # neighbor burst landed inside the sample — take one more draw
        # so the min is less likely to inherit the contaminated reading
        if max(draws) / min(draws) > 1.5:
            extra, n = timed_draws(spec, sf_dir, 1)
            draws += extra
        best = min(draws)
        timings[name] = round(best, 3)
        all_draws[name] = [round(d, 3) for d in draws]
        total += best
        print(f"# {name}: {best:.3f}s ({n} rows)", file=sys.stderr)
        # a benched query that returns 0 rows measures an AQE-propagated
        # empty plan, not the operator (round 2's q9); fail loudly
        assert spec.expect_empty or n > 0, f"{name}: 0 rows — bench is vacuous"
        # mid-section canary every ~10 rows (rule at MID_CANARY_DRIFT_MAX)
        benched_i += 1
        if benched_i % 10 == 0:
            mid = mid_canary_reading(canary_spec, sf_dir, canary_start)
            mid_canaries.append(round(mid, 3))
            print(f"# canary q1 mid[{benched_i}]: {mid:.3f}s "
                  f"(loadavg {_loadavg()})", file=sys.stderr)

    canary_end = min(timed_draws(canary_spec, sf_dir, 3)[0])
    loadavg_end = _loadavg()
    drift = round(canary_end / canary_start, 2)
    # two-sided flag (round-5 ADVICE): drift >1.3 means the END was
    # loaded; a very LOW drift means the START was (a run whose first
    # canary absorbed a neighbor burst would otherwise self-certify
    # clean). The lower bound is 0.55, not 1/1.3: a fresh-JVM start
    # canary measures a systematic 0.62-0.85 drift floor vs the
    # deep-warm end reading — C2 keeps compiling SHARED engine paths
    # (parquet reader, codegen infra) through the whole run, which q1
    # warm-up draws alone cannot close — so a mild sub-1 drift is
    # warmup, while <0.55 exceeds every clean-run floor observed across
    # sf0.01/sf0.1/sf1 and means the start was genuinely loaded. A high
    # absolute start loadavg (the round-5 builder artifact's 8.17 case)
    # flags the run directly rather than only warning.
    # Known conservative false-flag mode (round-7 observation, 3 runs):
    # a box in DEEP idle (loadavg < 0.1 for minutes) reads a slow START
    # canary — 0.5-2.6 s vs the 0.4 s warm norm — from CPU-frequency /
    # cache cold-start rather than load, tripping the <0.55 bound on a
    # genuinely clean machine. The guard then diverts a usable run,
    # which costs a re-run but never corrupts the record; launching
    # within a few minutes of prior activity (the driver's normal
    # pattern) avoids it. Do NOT widen the bound for this: the same
    # low-drift signature is how a loaded start actually looks.
    # Round 8: the mid-section canaries now break that tie with
    # interior evidence instead of a wider bound — see
    # start_cold_rescue's docstring for the reclassification rule.
    mid_drift_max, mid_over, mid_flag = mid_canary_flag(
        mid_canaries, min(canary_start, canary_end)
    )
    high_load_start = loadavg_start is not None and loadavg_start > 8
    contaminated = (
        drift > 1.3 or drift < 0.55 or high_load_start or mid_flag
    )
    rescued = (
        contaminated
        and not high_load_start
        and not mid_flag
        and start_cold_rescue(drift, mid_canaries, mid_over, loadavg_start)
    )
    if rescued:
        contaminated = False
        print(f"# canary drift {drift} < 0.55 reclassified: cold start "
              f"(all {len(mid_canaries)} mid readings quiet, loadavg_start "
              f"{loadavg_start})", file=sys.stderr)
    print(f"# canary q1 end: {canary_end:.3f}s (loadavg {loadavg_end}, "
          f"drift {drift}x, mid-drift max {mid_drift_max}x"
          f"{' ** CONTAMINATED RUN' if contaminated else ''})",
          file=sys.stderr)
    if loadavg_start is not None and loadavg_start > 8:
        print(f"# ** HIGH START LOADAVG {loadavg_start} — start canary "
              f"inflated; run flagged contaminated", file=sys.stderr)

    payload = {
        "metric": "headline_queries_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "draws": all_draws,
        "loadavg": loadavgs,
        "canary": {
            "query": "q1_pricing_summary",
            "start_sec": round(canary_start, 3),
            "end_sec": round(canary_end, 3),
            "drift": drift,
            "mid_secs": mid_canaries,
            "mid_drift_max": mid_drift_max,
            "mid_over_threshold": mid_over,
            "cold_start_rescued": rescued,
            "contaminated": contaminated,
            "loadavg_start": loadavg_start,
            "loadavg_end": loadavg_end,
        },
    }

    # ---- end-to-end reference pipeline (fixture scale) ---------------------
    # The composed S*→J*→A*→K* dataflow — every advisory source →
    # namespacing → enrichment → upserts → tar/gzip/AES container — is
    # golden-tested for VALUES (tests/test_sink.py) but a regression in
    # the composition's COST was invisible to the per-operator rows
    # above. One warm + best-of-2 timed runs (~30 s each at fixture
    # scale): the x1 number is the denominator of every pipeline_scale
    # ratio, and with a single timed draw it was the section's noisiest
    # reading (48.5 s vs a 25.7 s floor in back-to-back r7 runs).
    fixture_root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "vul-source"
    )
    if os.path.isdir(fixture_root) and os.environ.get("SPARK_GRAFT_SKIP_E2E") != "1":
        import shutil
        import tempfile

        from vul_dbgen_spark.plans import pipeline as _pipeline
        from vul_dbgen_spark.sinks import memdb as _memdb

        # fresh SparkContext for the composition section — the same
        # rationale as the sf1 restart below: entering this section
        # right after ~50 queries of shared-JVM residue inflated the x1
        # row to ~2x its fresh-JVM floor in BOTH r7 and r8 runs (48.5 s
        # and 50.7 s best-of-2 vs a 25 s floor measured in fresh JVMs,
        # while x10 in the SAME section read 25 s — the inflation dies
        # off as the section runs). The x1 row is the denominator of
        # every pipeline_scale ratio; it should measure the dataflow,
        # not the prior section's heap state.
        spark.stop()
        spark = get_spark("vul_dbgen_spark_bench_e2e")

        # best of 2 timed draws (was 1): the r7 run recorded x1 = 48.5 s
        # against x10 = 30.3 s — a single timed draw makes the x1 floor
        # (the denominator of every scale ratio) the noisiest number in
        # the section; one more ~30 s draw fixes that
        e2e_best = float("inf")
        for i in range(3):
            _release_state(spark)
            t0 = time.perf_counter()
            os_out, app_out = _pipeline.run(spark, fixture_root)
            tmp = tempfile.mkdtemp(prefix="bench_e2e_")
            try:
                shas = _memdb.update_db(os_out, app_out, tmp, version="0.0")
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            dt = time.perf_counter() - t0
            if i > 0:
                e2e_best = min(e2e_best, dt)
        assert shas, "pipeline_e2e: empty container — bench is vacuous"
        payload["pipeline_e2e_sec"] = round(e2e_best, 3)
        print(f"# pipeline_e2e (sources→enrich→upsert→container): "
              f"{e2e_best:.3f}s ({len(shas)} container files)", file=sys.stderr)

        # ---- composed-pipeline scale rows (round-5 VERDICT directive #5) ----
        # The flagship composition was the only family without a slope.
        # tools/gen_pipeline_scale.py replicates the committed fixture
        # corpus x10/x100 with globally-consistent rewritten advisory
        # ids (NVD dimension included, so enrichment hit-rates are
        # constant); the corpora are deterministic and regenerated on
        # demand. Same warm+timed protocol as the e2e row above, same
        # full dataflow (sources → … → container sink).
        if os.environ.get("SPARK_GRAFT_SKIP_PIPESCALE") != "1":

            def _tree_bytes(root: str) -> int:
                total = 0
                for dirpath, _dirs, files in os.walk(root):
                    for fn in files:
                        total += os.path.getsize(os.path.join(dirpath, fn))
                return total

            pipe_scale: dict[str, float] = {"x1": round(e2e_best, 3)}
            # per-multiplier input size: the x10/x100 slope looked flat
            # in round 6 because a KB-scale corpus never got the data
            # term above the ~24 s per-source job-scheduling floor;
            # recording corpus bytes makes a flat slope INTERPRETABLE
            # (overhead-bound) instead of meaningless, and x1000 pushes
            # the data term past the floor (round-6 VERDICT directive
            # #3: pipeline wall-time ≥5x the x1 floor).
            pipe_inputs: dict[str, int] = {"x1": _tree_bytes(fixture_root)}
            for mult in (10, 100, 1000):
                if mult == 1000 and os.environ.get(
                    "SPARK_GRAFT_SKIP_PIPESCALE_XL"
                ) == "1":
                    continue
                sroot = os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "fixtures", f"vul-source-x{mult}",
                )
                if not os.path.isdir(sroot):
                    import subprocess

                    # temp-dir + rename: a partial corpus must never
                    # pass the isdir gate on the next run
                    _tmpd = sroot.rstrip("/") + ".tmp.gen"
                    shutil.rmtree(_tmpd, ignore_errors=True)
                    try:
                        subprocess.run(
                            [sys.executable,
                             os.path.join(
                                 os.path.dirname(os.path.abspath(__file__)),
                                 "tools", "gen_pipeline_scale.py"),
                             str(mult), _tmpd],
                            check=True,
                        )
                        os.rename(_tmpd, sroot)
                    except Exception as exc:  # noqa: BLE001
                        shutil.rmtree(_tmpd, ignore_errors=True)
                        print(f"# ** PIPESCALE GEN FAILED x{mult}: {exc!r} — "
                              f"skipping", file=sys.stderr)
                        continue
                best = float("inf")
                # best of 2 timed draws for EVERY multiplier, x1000
                # included (round-7 VERDICT directive #7): x1000's
                # single timed draw spread 97.6 s driver vs 155.9 s
                # builder across r7 runs — 60% draw noise that reads as
                # regression on the section's headline scale row; the
                # second ~150 s draw is what makes the slope claim a
                # measurement
                for i in range(3):
                    _release_state(spark)
                    t0 = time.perf_counter()
                    os_out, app_out = _pipeline.run(spark, sroot)
                    tmp = tempfile.mkdtemp(prefix=f"bench_pipescale{mult}_")
                    try:
                        shas = _memdb.update_db(
                            os_out, app_out, tmp, version="0.0"
                        )
                    finally:
                        shutil.rmtree(tmp, ignore_errors=True)
                    if i > 0:
                        best = min(best, time.perf_counter() - t0)
                assert shas, f"pipeline_scale x{mult}: empty container"
                pipe_scale[f"x{mult}"] = round(best, 3)
                pipe_inputs[f"x{mult}"] = _tree_bytes(sroot)
                print(f"# pipeline_scale x{mult}: {best:.3f}s "
                      f"({best / e2e_best:.1f}x vs x1, "
                      f"{pipe_inputs[f'x{mult}'] / 1e6:.1f} MB corpus)",
                      file=sys.stderr)
            if len(pipe_scale) > 1:
                payload["pipeline_scale_sec"] = pipe_scale
                payload["pipeline_scale_input_bytes"] = pipe_inputs

    # ---- sf1 scaling point -------------------------------------------------
    # Every sf0.1 number above is overhead-dominated (< ~2.5 s); the
    # 100 TB claims rest on the SLOPE, so when the locally generated 10x
    # dataset exists (tools/gen_sf1.py -> fixtures/sf1), re-run the
    # heaviest queries there and report sec + the sf1/sf0.1 ratio. A
    # ratio far above 10x on this replicated-shard data flags an
    # operator with super-linear cost. One timed repeat after a warm
    # run: at sf1 the queries run seconds, so a noise draw distorts a
    # ratio far less than at sf0.1.
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf1"),
    )
    if (
        not os.path.isdir(sf1_dir)
        and "SPARK_GRAFT_SF1_DIR" not in os.environ
        and os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1"
        and os.environ.get("SPARK_GRAFT_SKIP_SCALEGEN") != "1"
    ):
        # the sf1 fixtures are gitignored (~1 GB parquet) and vanish on
        # a container reset; a bench run that silently skipped the
        # whole sf1 section would drop the engine's only 10x slope
        # evidence from the committed artifact (the same failure mode
        # the sf3/sf10 doc slices already guard against). Deterministic
        # (seeded) regeneration takes ~2-3 min; never let it abort the
        # sf0.1 measurements already in hand.
        import subprocess

        print("# generating fixtures/sf1 (seeded, one-time)...", file=sys.stderr)
        # generate into a temp dir and rename on success (round-7
        # ADVICE): a partial fixtures/sf1 left by a failed run would
        # pass the os.path.isdir gate below and feed the whole sf1
        # section incomplete fixtures — crashing late or, worse,
        # committing garbage slope numbers
        _tmp_gen = sf1_dir.rstrip("/") + ".tmp.gen"
        import shutil as _shutil

        _shutil.rmtree(_tmp_gen, ignore_errors=True)
        try:
            subprocess.run(
                [sys.executable,
                 os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "tools", "gen_sf1.py"),
                 _tmp_gen],
                check=True,
            )
            os.rename(_tmp_gen, sf1_dir)
        except Exception as exc:  # noqa: BLE001
            _shutil.rmtree(_tmp_gen, ignore_errors=True)
            print(f"# ** SF1 GEN FAILED: {exc!r} — skipping the sf1 section",
                  file=sys.stderr)
    if os.path.isdir(sf1_dir) and os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        # fresh SparkContext for the scaling section: after ~45 sf0.1
        # queries + the e2e pipeline, the shared JVM carries heap
        # fragmentation and block-manager residue that _release_state's
        # unpersist+GC does not fully return, and the GC-heavy sf1
        # graph/clustering rows inherit it (measured in one run:
        # triangle 65 s / clusters 23 s late-JVM vs 21-36 s / 13 s in a
        # fresh JVM running the identical code). The slope claims are
        # about the OPERATORS, not about 45 queries of prior tenancy —
        # restart the context so sf1 rows measure what a standalone run
        # measures. (The sf0.1 numbers keep the shared session: each is
        # protected by its own untimed warm run and best-of-3.)
        spark.stop()
        spark = get_spark("vul_dbgen_spark_bench_sf1")
        # the sf1 section gets its own canary pair: it is where round 4's
        # contamination actually landed (graph rows), and the sf0.1-
        # section canary certifies nothing about a section that runs
        # 5-20 minutes later in a different JVM
        # same JIT-settling protocol as the start-of-run canary: the
        # sf1 section runs in a freshly restarted context
        timed_draws(canary_spec, sf1_dir, 3)
        sf1_canary_start = min(timed_draws(canary_spec, sf1_dir, 3)[0])
        sf1_loadavg_start = _loadavg()
        print(f"# canary q1@sf1 start: {sf1_canary_start:.3f}s "
              f"(loadavg {sf1_loadavg_start})", file=sys.stderr)
        # dedup_embedding_lsh (0.40 threshold, 8x4 bands) is deliberately
        # NOT here: on the near-uniform synthetic vectors the TRUE pair
        # count at 0.40 is Θ(n²) (701 pairs @ 2k vecs → ~70k @ 20k), so
        # any exact-recall candidate generator is quadratic by problem
        # statement — measured 52.6x at 10x data in round 3. The scale
        # path is benched below as dedup_embedding_lsh_scaled: the
        # production config (0.9 threshold, 12x12 bands — the operator
        # docstring's documented band growth) on embeddings with a
        # realistic injected 2% near-dup rate, where output is linear.
        # dedup_ngram_jaccard / _capped are likewise NOT here: the
        # synthetic documents draw from a ~100-word vocabulary, so every
        # 3-gram's doc frequency grows LINEARLY with corpus size and
        # exact-recall Jaccard pair generation is Θ(n²) by problem
        # statement (measured 12–22x at 10x data). An absolute df cap —
        # the 100 TB answer on Zipfian text — returns 1 row here because
        # even exact-duplicate docs share only globally-hot grams
        # (measured: cap=50 → 2.96s/1 row, cap=100 → 705 of 2061 rows).
        # The text scale paths benched instead: minhash band join —
        # uncapped AND band-capped twins, so the hot-band cap's slope
        # delta is measured, not asserted (TRUE candidates grow 59x here,
        # 826→49,129 pairs, so runtime ratios track output growth) — the
        # incremental delta-vs-corpus screen, and n-gram decontamination
        # (both output-linear).
        # graph family at sf1 (round-3 directive #3): the co-purchase
        # graph is 11.96M canonical edges at sf1 — still UNDER the 20M
        # wedge-bloom auto-gate (the replicated shards don't
        # cross-connect, so edges grow exactly 10x, not densify), so the
        # census measures the broadcast-semi-join regime; the bloom
        # regime keeps its own equivalence test (test_graph.py).
        heavy = [
            "dedup_clusters", "graph_pagerank_parts",
            "tfidf_top_terms", "bm25_topk",
            "dedup_minhash_lsh_pairs", "q5_region_revenue",
            "topk_parts_per_supplier", "centroid_assign_confusion",
            "q1_pricing_summary", "q9_product_profit_shape",
            "doc_unigram_logxent", "q2_min_cost_supplier",
            "dedup_incremental", "decontaminate_eval",
            "dedup_minhash_lsh_pairs_capped", "dedup_substring_spans",
            "ann_pq_adc_topk", "graph_khop_reach", "graph_triangle_stats",
            "train_logreg_gd", "score_auc_eval", "train_logreg_hashed",
            # tokenizer training: the slope claim is that merge rounds
            # cost O(dict), not O(corpus) — the word dict grows far
            # slower than 10x on replicated shards, so the ratio should
            # be dominated by the single dict-building corpus scan
            "train_bpe_merges",
            # DSIR: one explode feeding two ≤1024-row bucket counts +
            # a broadcast re-join — expected ~linear in token volume
            "dsir_importance_topk",
            # Lloyd k-means: per-round cost is one n×k broadcast argmin
            # + one (cid,dim) partial agg of ≤ k·dim rows — linear in n
            # at fixed k
            "train_kmeans_lloyd",
            # gapfill: after the first (key,bucket) agg, cost is
            # O(keys × buckets) — sf1 grows keys 10x, window stays 720h
            "ts_gapfill_locf",
            # synchronous LPA: per round one edges⋈labels join + one
            # total argmax aggregate (the keep-current rule rides a
            # count=0 seed row) — linear in |E| at fixed rounds; the
            # co-purchase graph grows exactly 10x on replicated shards
            "graph_label_propagation",
            # capped fuzzy joins (round-4 directive #1): the hot-bucket
            # cap turns the PassJoin candidate cliff (uncapped measured
            # 30x at 10x docs) into ~4.6x; the SymSpell twin's finer
            # variant blocking holds ~2.3x. Both run on the organic
            # Zipfian document-prefix corpus — see the entries'
            # docstrings for why dense sequential c_name keys cannot
            # exercise a df cap (uniform buckets, no hot head).
            "fuzzy_pairs_hamming_capped", "fuzzy_pairs_edit1_capped",
            # SemDeDup production paths (round-4 directives #5/#8): the
            # delta-vs-corpus screen (|delta|x|cluster|, Lloyd trained
            # on the corpus) and the composed frozen-IVF routed screen
            # (bounded batch broadcast into the cell join — corpus
            # scanned once, never shuffled; measured ~1.1x at 10x)
            "semdedup_incremental", "semdedup_routed_incremental",
            # the bulk-batch twin (delta = 10% of the table, 2k vectors
            # at sf1): exercises that "bounded batch ⟹ broadcast" holds
            # at daily-tranche size, not just at 50 rows
            "semdedup_routed_incremental_bulk",
        ]
        # semdedup_pairs is deliberately NOT here: the graded artifact
        # freezes k=8, and with k fixed the within-cluster pair volume
        # is Θ(n²/k) by problem statement — at 10x vectors the clusters
        # grow 10x and pairs 100x. The paper's configuration discipline
        # (k ∝ n, holding |cluster| constant) makes the pair stage
        # linear but turns the n×k Lloyd assignment quadratic in turn;
        # the 100 TB answer is routing vectors to centroids through the
        # ANN family (IVF cells, benched above), not a bigger flat
        # argmin. The k=8 entry grades the algebra; the production
        # postures are benched DIRECTLY in the heavy list:
        # semdedup_incremental (delta-vs-corpus screen) and
        # semdedup_routed_incremental (frozen-IVF routed screen).
        # fuzzy_pairs_hamming (the UNCAPPED customer-name entry) is
        # deliberately NOT in the sf1 list, for the same
        # Θ(n²)-by-problem-statement reason as the ngram pair queries:
        # c_name is 9 constant chars + a dense sequential 9-digit id,
        # so the pigeonhole class keys draw from a tiny digit-pattern
        # space and candidate volume is Σ bucket² ≈ n²/|keyspace|
        # (measured 1.86M candidates at 15k rows; ~75M at 150k — ~40x
        # at 10x data). True d1 pairs grow linearly; it is the blocking
        # that saturates on low-entropy keys. The family's scale story
        # is now MEASURED, not asserted: the capped twins in the heavy
        # list above run the same operators on organic Zipfian keys
        # with the max_key_df hot-bucket cap (round-4 directive #1).
        sf1_timings: dict[str, float] = {}
        ratios: dict[str, float] = {}
        sf1_loadavgs: dict[str, float | None] = {}
        sf1_all_draws: dict[str, list[float]] = {}
        sf1_mid_canaries: list[float] = []
        for name in heavy:
            spec = REGISTRY[name]
            sf1_loadavgs[name] = _loadavg()
            # 2 timed draws minimum for EVERY row (spread is invisible
            # with one sample; the slow_twice set used to be the only
            # rows with a second draw)
            draws, n = timed_draws(spec, sf1_dir, 2)
            # auto-extra-draw-on-spread, extended to the sf1 section
            # (round-6 VERDICT directive #5): q2/q9/logxent/tfidf showed
            # 1.5-2x builder-vs-driver spread on clean canaries and only
            # the sf0.1 section re-drew. The stop condition is on the
            # TWO SMALLEST draws (is the min corroborated by a second
            # reading?), not max/min — max/min is monotone in an
            # append-only list, so it could never release the loop once
            # tripped. Cap at +2 extras; note each extra costs one
            # hidden warm pass too (timed_draws' shield against load
            # spikes), so a spread-heavy graph row pays ~2 runs/extra —
            # the per-row loadavg is recorded to explain exactly that.
            extras = 0
            while extras < 2:
                s = sorted(draws)
                if s[1] / s[0] <= 1.5:
                    break
                more, n = timed_draws(spec, sf1_dir, 1)
                draws += more
                extras += 1
            best = min(draws)
            assert spec.expect_empty or n > 0, f"{name}@sf1: 0 rows — vacuous"
            sf1_timings[name] = round(best, 3)
            sf1_all_draws[name] = [round(d, 3) for d in draws]
            if timings.get(name):
                ratios[name] = round(best / timings[name], 1)
            flag = " ** SUPER-LINEAR" if ratios.get(name, 0) > 15 else ""
            print(
                f"# sf1 {name}: {best:.3f}s ({n} rows, "
                f"{ratios.get(name, float('nan'))}x vs sf0.1){flag}",
                file=sys.stderr,
            )
            # mid-section canary every 8 sf1 rows — this section is
            # where both round-4's contamination and the 2026-08-16
            # mid-run burst actually landed (rule at MID_CANARY_DRIFT_MAX)
            if len(sf1_timings) % 8 == 0:
                mid = mid_canary_reading(
                    canary_spec, sf1_dir, sf1_canary_start
                )
                sf1_mid_canaries.append(round(mid, 3))
                print(f"# canary q1@sf1 mid[{len(sf1_timings)}]: {mid:.3f}s "
                      f"(loadavg {_loadavg()})", file=sys.stderr)
        # scale-path embedding dedup: production banding on dup-injected
        # vectors (tools/gen_sf1.py), ratio vs a 2k baseline from the
        # SAME generator + dup rate (fixtures/sf0.1syn) so both points
        # measure identical per-row semantics
        syn_dir = os.path.join(os.path.dirname(sf1_dir), "sf0.1syn")
        if os.path.isdir(syn_dir):
            from vul_dbgen_spark.operators.similarity import (
                embedding_lsh_near_dup_pairs,
            )

            def scaled(d: str):
                emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
                return embedding_lsh_near_dup_pairs(
                    emb, "vec_id", "embedding",
                    dim=64, threshold=0.9, n_bands=12, band_planes=12,
                )

            secs = {}
            for tag, d in [("sf0.1", syn_dir), ("sf1", sf1_dir)]:
                best, n = float("inf"), 0
                for i in range(2):
                    _release_state(spark)
                    t0 = time.perf_counter()
                    n = scaled(d).count()
                    if i > 0:
                        best = min(best, time.perf_counter() - t0)
                assert n > 0, f"dedup_embedding_lsh_scaled@{tag}: 0 rows — vacuous"
                secs[tag] = round(best, 3)
                print(
                    f"# sf1-scalepath dedup_embedding_lsh_scaled@{tag}: "
                    f"{best:.3f}s ({n} rows)",
                    file=sys.stderr,
                )
            sf1_timings["dedup_embedding_lsh_scaled"] = secs["sf1"]
            ratios["dedup_embedding_lsh_scaled"] = round(
                secs["sf1"] / secs["sf0.1"], 1
            )

        sf1_canary_end = min(timed_draws(canary_spec, sf1_dir, 3)[0])
        sf1_drift = round(sf1_canary_end / sf1_canary_start, 2)
        sf1_mid_drift_max, sf1_mid_over, sf1_mid_flag = mid_canary_flag(
            sf1_mid_canaries, min(sf1_canary_start, sf1_canary_end)
        )
        sf1_contaminated = (
            sf1_drift > 1.3 or sf1_drift < 0.55 or sf1_mid_flag
        )
        sf1_rescued = (
            sf1_contaminated
            and not sf1_mid_flag
            and start_cold_rescue(
                sf1_drift, sf1_mid_canaries, sf1_mid_over, sf1_loadavg_start
            )
        )
        if sf1_rescued:
            sf1_contaminated = False
            print(f"# sf1 canary drift {sf1_drift} < 0.55 reclassified: "
                  f"cold start (all {len(sf1_mid_canaries)} mid readings "
                  f"quiet, loadavg {sf1_loadavg_start})", file=sys.stderr)
        print(f"# canary q1@sf1 end: {sf1_canary_end:.3f}s (loadavg "
              f"{_loadavg()}, drift {sf1_drift}x, mid-drift max "
              f"{sf1_mid_drift_max}x"
              f"{' ** CONTAMINATED RUN' if sf1_contaminated else ''})",
              file=sys.stderr)
        payload["sf1_queries"] = sf1_timings
        payload["sf1_ratio_vs_sf0.1"] = ratios
        payload["sf1_total"] = round(sum(sf1_timings.values()), 3)
        payload["sf1_canary"] = {
            "query": "q1_pricing_summary",
            "start_sec": round(sf1_canary_start, 3),
            "end_sec": round(sf1_canary_end, 3),
            "drift": sf1_drift,
            "mid_secs": sf1_mid_canaries,
            "mid_drift_max": sf1_mid_drift_max,
            "mid_over_threshold": sf1_mid_over,
            "cold_start_rescued": sf1_rescued,
            "contaminated": sf1_contaminated,
        }
        payload["sf1_loadavg"] = sf1_loadavgs
        payload["sf1_draws"] = sf1_all_draws

        # ---- sf3/sf10 scaling points: the incremental screen's slope ------
        # dedup_incremental at sf1 is 0.9x vs sf0.1 — overhead-dominated,
        # proving nothing about the LEFT-SEMI screen's slope. Documents-only
        # slices at 3x and 10x of sf1 (tools/gen_sf3_docs.py →
        # fixtures/sf{3,10}docs; 150k/500k docs) add the points where data
        # cost becomes visible; ≈ linear in corpus size is the pass
        # condition for the append-only band-index design.
        # the doc slices are gitignored (150k/500k-row parquet) and were
        # absent at round 4's final run, which silently dropped the
        # scale rows from the committed artifact — regenerate them
        # deterministically (seeded) instead of skipping, so the HEAD
        # artifact always carries the slope evidence
        incr_points: dict[str, float] = {}
        for tag in ("sf3", "sf10"):
            pdir = os.path.join(os.path.dirname(sf1_dir), f"{tag}docs")
            if (
                not os.path.isdir(pdir)
                and os.environ.get("SPARK_GRAFT_SKIP_SCALEGEN") != "1"
            ):
                import subprocess

                print(f"# generating {tag}docs slice (seeded, one-time)...",
                      file=sys.stderr)
                # never let slice generation (disk full, missing dep) abort
                # a bench whose sf0.1+sf1 measurements are already in hand —
                # the payload is only written at the end (round-5 ADVICE).
                # Same temp-dir + rename discipline as the sf1 gen: a
                # partial slice dir must never pass the isdir gate.
                import shutil as _sh

                _tmp = pdir.rstrip("/") + ".tmp.gen"
                _sh.rmtree(_tmp, ignore_errors=True)
                try:
                    subprocess.run(
                        [sys.executable,
                         os.path.join(
                             os.path.dirname(os.path.abspath(__file__)),
                             "tools", "gen_sf3_docs.py"),
                         tag, _tmp],
                        check=True,
                    )
                    os.rename(_tmp, pdir)
                except Exception as exc:  # noqa: BLE001
                    _sh.rmtree(_tmp, ignore_errors=True)
                    print(f"# ** SCALEGEN FAILED for {tag}: {exc!r} — "
                          f"skipping the {tag} scale point", file=sys.stderr)
                    continue
            if not os.path.isdir(pdir):
                continue
            spec = REGISTRY["dedup_incremental"]
            best, n = float("inf"), 0
            for i in range(2):
                _release_state(spark)
                t0 = time.perf_counter()
                n = spec.fn(spark, pdir).count()
                if i > 0:
                    best = min(best, time.perf_counter() - t0)
            assert n > 0, f"dedup_incremental@{tag}: 0 rows — vacuous"
            incr_points[tag] = round(best, 3)
            ratio = (
                round(best / sf1_timings["dedup_incremental"], 1)
                if sf1_timings.get("dedup_incremental")
                else None
            )
            print(
                f"# {tag} dedup_incremental: {best:.3f}s ({n} rows, "
                f"{ratio}x vs sf1)",
                file=sys.stderr,
            )
        if incr_points:
            payload["incremental_scale_sec"] = incr_points

    # the driver captures the TAIL of stdout and its round-3 capture
    # truncated the (long) result line mid-JSON ("parsed": null) — write
    # the payload to a committed file FIRST so a parseable copy always
    # exists, then print the contract's single JSON line.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    payload["commit"] = _git_head(repo_dir)
    any_contaminated = bool(
        payload["canary"].get("contaminated")
        or payload.get("sf1_canary", {}).get("contaminated")
    )
    out_path = resolve_artifact_path(
        repo_dir, any_contaminated, sf_dir, payload["cpus"]
    )
    if out_path.endswith(".rejected.json"):
        print("# ** CONTAMINATED RUN — payload diverted to "
              "BENCH_result.rejected.json; the committed BENCH_result.json "
              "keeps the last clean run. Re-run until both canaries are "
              "clean (round-6 VERDICT directive #1).", file=sys.stderr)
    elif out_path.endswith(".local.json"):
        print(f"# non-graded configuration (sf {sf_dir}, cpus "
              f"{payload['cpus']}) — payload written to "
              f"BENCH_result.local.json; the committed record only ever "
              f"holds the graded sf0.1, {GRADED_CPUS}-cpu configuration.",
              file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    # PRINTED payload: when a section self-flagged contaminated, emit
    # the last-known-clean section from the committed record instead of
    # the poisoned draws (round-7 VERDICT directive #2 — the driver's
    # per-round artifact is a stdout capture and must never carry
    # numbers the run's own canary disowned). Only at the graded SF:
    # an sf0.001 smoke run must not dress itself in sf0.1 numbers.
    emit, subbed = payload, []
    if any_contaminated and os.path.realpath(sf_dir) == os.path.realpath(
        GRADED_SF_DIR
    ):
        rec_path = os.path.join(repo_dir, "BENCH_result.json")
        record = None
        if os.path.exists(rec_path):
            try:
                with open(rec_path) as rf:
                    record = json.load(rf)
            except Exception:  # noqa: BLE001 - a corrupt record can't help
                record = None
        if record is not None and "commit" not in record:
            # pre-round-8 records carry no commit stamp — cite the
            # commit that last touched the committed record instead
            try:
                import subprocess

                record["commit"] = subprocess.run(
                    ["git", "-C", repo_dir, "log", "-n1", "--format=%h",
                     "--", "BENCH_result.json"],
                    capture_output=True, text=True, check=True,
                ).stdout.strip() or None
            except Exception:  # noqa: BLE001
                record["commit"] = None
        emit, subbed = substitute_clean_sections(payload, record)
        if subbed:
            print(f"# ** substituted last-known-clean section(s) "
                  f"{subbed} from BENCH_result.json (commit "
                  f"{record.get('commit')}) into the printed payload; "
                  f"fresh draws preserved at {os.path.basename(out_path)}",
                  file=sys.stderr)
    # the printed contract line stays COMPACT: the driver captures the
    # tail of stdout and has truncated long lines mid-JSON before
    # ("parsed": null in BENCH_r03/r04) — the per-draw and per-query
    # loadavg detail lives in the committed BENCH_result.json, and the
    # canary (the one condition signal a reader needs first) is small
    # enough to keep inline.
    compact = {
        k: v
        for k, v in emit.items()
        if k not in ("draws", "loadavg", "sf1_loadavg", "sf1_draws")
    }
    print(json.dumps(compact))
    # the driver's capture is a 2000-byte stdout TAIL (BENCH_r05's
    # "tail" field is exactly 2000 bytes and the 3.8 KB compact line
    # above overflowed it → "parsed": null). The LAST line is therefore
    # a <1 KB summary — totals, canaries, worst-5 sf1 ratios, no
    # per-query maps — guaranteed to land whole inside the window; the
    # full detail lives in the committed BENCH_result.json and the
    # compact line above.
    ratios_all = emit.get("sf1_ratio_vs_sf0.1", {})
    worst5 = dict(
        sorted(ratios_all.items(), key=lambda kv: -kv[1])[:5]
    )
    summary = {
        "metric": emit["metric"],
        "value": emit["value"],
        "unit": "sec",
        "sf": emit["sf"],
        # contract-shaped {name: sec} map, capped to the 5 slowest so
        # the line stays inside the capture window; full map above +
        # in BENCH_result.json
        "queries": dict(
            sorted(emit["queries"].items(), key=lambda kv: -kv[1])[:5]
        ),
        "n_queries": len(emit["queries"]),
        "cpus": emit.get("cpus"),
        "canary_drift": emit["canary"]["drift"],
        "contaminated": emit["canary"].get("contaminated", False),
        # basename, not a hardcoded name: a contaminated run's payload
        # is diverted to BENCH_result.rejected.json, and the summary
        # must point at the file THIS run actually wrote, not at the
        # previous clean run's record
        "full": os.path.basename(out_path),
    }
    if subbed:
        # the honesty marker rides the summary too: these sections are
        # the committed record's numbers, not this run's draws
        summary["substituted_sections"] = subbed
    if "sf1_total" in emit:
        summary["sf1_total"] = emit["sf1_total"]
        summary["sf1_canary_drift"] = emit["sf1_canary"]["drift"]
        summary["sf1_contaminated"] = emit["sf1_canary"].get(
            "contaminated", False
        )
        summary["sf1_worst5_ratios"] = worst5
    if "pipeline_e2e_sec" in emit:
        summary["pipeline_e2e_sec"] = emit["pipeline_e2e_sec"]
    if "pipeline_scale_sec" in emit:
        summary["pipeline_scale_sec"] = emit["pipeline_scale_sec"]
    if "incremental_scale_sec" in emit:
        summary["incremental_scale_sec"] = emit["incremental_scale_sec"]
    print(json.dumps(summary))
    if any_contaminated and os.environ.get("SPARK_GRAFT_REQUIRE_CLEAN") == "1":
        # hard gate for scripted re-run-until-clean loops: the artifact
        # and contract lines above are already emitted, the exit code
        # just tells the caller this run must not become the record
        sys.exit(3)


if __name__ == "__main__":
    main()
