"""The query_mix workload: 18 analytics queries from ``__spark_entry__``
over seeded generated tables, every DataFrame built once and timed in warm
passes. Read-only: it exercises ``operators/`` and never touches
``frontier/`` or the catalog.
"""

from __future__ import annotations

import random
import time

import pandas as pd

from . import tables
from .harness import Run, Workload, geomean, late_median, median, sha1_rows

# bench.HEADLINE, then the leaves ROADMAP names
QUERIES = [
    "q01_pricing_summary", "q02_top_revenue_orders", "q05_frontier_pop_topk",
    "q14_token_count", "q19_ngram_jaccard", "q22_cosine_topk",
    "q25_gold_outage_metrics", "q26_sessionize",
    "q30_session_state_machine", "q35_threshold_merger", "q42_ganz_relative_threshold",
    "q51_clean_corpus_pipeline", "q63_dup_substring_spans", "q86_fingerprint_overlap",
    "q87_remove_dup_spans", "q90_clean_pipeline_exactsubstr",
    "q114_host_mirror_detection", "q126_incremental_index_refresh",
]
SF, SF_TOY = 0.01, 0.002
DATA_SEED = 42

# Queries whose oracle cannot gate this data, with the reason.
NO_ORACLE = {
    "q35_threshold_merger": (
        "its oracle is an expected-output file stamped from the reference code "
        "over one fixed events table; it does not describe generated tables"
    ),
}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted frame with floats rounded to 6 places."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def oracle_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else what differs."""
    a, b = normalize(got.copy()), normalize(want.copy())
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, atol=1e-6)
    except AssertionError as e:
        return "values: " + str(e).split("\n")[0][:160]
    return None


def oracle_sql() -> dict[str, str]:
    """The package's oracle SQL without reading the expected-output files
    stamped from one fixed test table: those loaders read outside the
    checkout, and none of their queries gates generated tables. The docs
    loader's entries stay as unformatted SQL because other oracles are
    composed from them; none of this benchmark's queries runs them."""
    import __spark_entry__ as entry

    saved = entry._merger_reference_oracles, entry._docs_digest_oracle
    entry._merger_reference_oracles = lambda oracle_dir: {}
    entry._docs_digest_oracle = lambda oracle_dir, qtag, qname, select_sql: {qname: select_sql}
    try:
        return entry.oracle_sql()
    finally:
        entry._merger_reference_oracles, entry._docs_digest_oracle = saved


class QueryMix(Workload):
    """One cycle is one warm pass over the 18 queries, in an order the
    workload seed permutes; each query's collect() is one operation."""

    name = "query_mix"
    min_cycles = 2

    def __init__(self, r: Run, toy: bool):
        self.r = r
        self.sf = SF_TOY if toy else SF
        self.rng = random.Random(r.seed)
        self.data_dir: str | None = None
        self.dfs: dict = {}
        self.reference: dict[str, tuple[list, str]] = {}
        self.walls: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.build_s = 0.0

    def generate(self, rep: int) -> None:
        self.data_dir = self.r.path(f"tables-{rep}")
        tables.generate(self.data_dir, self.sf, seed=DATA_SEED)

    def warm(self) -> None:
        """Build every DataFrame once, then one untimed pass whose results
        are the reference digests."""
        import __spark_entry__ as entry

        qs = entry.queries()
        t0 = time.monotonic()
        self.dfs = {q: qs[q](self.r.spark, self.data_dir) for q in QUERIES}
        self.build_s = time.monotonic() - t0
        for q in QUERIES:
            rows = self.dfs[q].collect()
            self.reference[q] = (rows, sha1_rows(rows))

    def run_query(self, q: str) -> tuple[float, list]:
        t0 = time.monotonic()
        rows = self.dfs[q].collect()
        return time.monotonic() - t0, rows

    def cycle(self, on_query=None) -> dict:
        order = list(QUERIES)
        self.rng.shuffle(order)
        steps, failed = [], []
        for q in order:
            if on_query is not None:
                wall, rows = on_query(q)
            else:
                wall, rows = self.run_query(q)
            self.walls[q].append(wall)
            steps.append(wall)
            if sha1_rows(rows) != self.reference[q][1]:
                failed.append(q)
        return {"wall": sum(steps), "steps": steps, "items": len(order),
                "queries": order, "failed": failed}

    def check_oracles(self) -> tuple[list[dict], set[str]]:
        """Each query's warm-pass result against its DuckDB oracle over the
        same tables, once per run. Returns checks and the failing queries."""
        import duckdb

        oracles = oracle_sql()
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            checks, bad = [], set()
            for q in QUERIES:
                if q in NO_ORACLE or q not in oracles:
                    checks.append({"check": f"{q} oracle", "ok": True,
                                   "detail": "skipped: " + NO_ORACLE.get(q, "no oracle")})
                    continue
                rows = self.reference[q][0]
                got = pd.DataFrame([r.asDict() for r in rows], columns=self.dfs[q].columns)
                diff = oracle_mismatch(got, con.sql(oracles[q]).df())
                checks.append({"check": f"{q} oracle", "ok": diff is None, "detail": diff or ""})
                if diff is not None:
                    bad.add(q)
            return checks, bad
        finally:
            con.close()

    def cycle_counted(self, tracer) -> dict:
        """A pass with the scheduler counter around each query."""
        counter = self.r.counter

        def on_query(q):
            counter.begin(f"query.{q}")
            t0 = time.time()
            wall, rows = self.run_query(q)
            t1 = time.time()
            tracer.step_stats.append({**counter.end(), "query": q, "t0": t0, "t1": t1})
            return wall, rows

        return self.cycle(on_query)

    def cycle_traced(self, tracer) -> dict:
        """A pass with one root span per query."""

        def on_query(q):
            with tracer.root(f"query.{q}"):
                return self.run_query(q)

        return self.cycle(on_query)

    def verify(self, cycles: list[dict]) -> tuple[list[dict], int, int]:
        """Digest failures fail their execution; an oracle mismatch fails
        every execution of that query."""
        checks, bad = self.check_oracles()
        attempted = sum(c["items"] for c in cycles)
        n_drift = sum(len(c["failed"]) for c in cycles)
        failed = sum(q in bad or q in c["failed"] for c in cycles for q in c["queries"])
        checks.append({"check": "result digests identical across passes", "ok": n_drift == 0,
                       "detail": f"{n_drift} executions differ from the warm-up pass"})
        return checks, attempted, failed

    def per_query(self) -> dict[str, float]:
        return {q: median(w) for q, w in self.walls.items() if w}

    def e2e(self, cycles: list[dict]) -> dict:
        pq = self.per_query()
        suite = sum(pq.values())
        return {
            "cycle_s": suite,
            "throughput": len(pq) / suite,
        }

    def named(self, cycles: list[dict]) -> dict:
        pq = self.per_query()
        return {
            "query.suite_s": (sum(pq.values()), "s"),
            "query.geomean_s": (geomean(list(pq.values())), "s"),
            "query.pass_s_late": (late_median([c["wall"] for c in cycles]), "s"),
        }

    def report(self) -> list[str]:
        return [f"query.{q}_s {w:.6g} s" for q, w in self.per_query().items()] + [
            f"query.build_s {self.build_s:.6g} s"
        ]

    def layer_detail(self, tracer, untraced, traced, steps_stats) -> dict:
        out = {f"query.{q}_s": w for q, w in self.per_query().items()}
        out["query.build_s"] = self.build_s
        for s in steps_stats:
            out[f"spark.tasks_per_query.{s['query']}"] = s["tasks"]
            out[f"spark.jobs_per_query.{s['query']}"] = s["jobs"]
        return out

    def driver_self_s(self, tracer, steps_stats) -> float:
        """Median query wall not covered by any of its Spark jobs."""
        from .trace import union_length

        return median([
            (s["t1"] - s["t0"]) - union_length(s["job_intervals"], s["t0"], s["t1"])
            for s in steps_stats
        ])
