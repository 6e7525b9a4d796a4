"""Self-test of the benchmark at toy sizes.

    python3 perfbench/selftest.py           # everything, about seven minutes
    python3 perfbench/selftest.py --quick   # the check-tripping part only

1. Every correctness check passes on a faithful output and trips on a
   deliberately corrupted one: a duplicated fetch, a missing URL, one
   mutated text byte, one changed query row.
2. Each workload (poll_reference too), run through the command line at toy
   sizes with --trace 0 and --trace 1, ends in one JSON line that carries
   exactly the metric names of BENCHMARK.json, each with its unit and a
   finite value, and reports no failure.
3. A directory holding only BENCHMARK.json and perfbench/ makes the
   command exit non-zero without a result line.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import crawls, queries  # noqa: E402
from perfbench.harness import WORK_ROOT, sha1_rows  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def _failing(checks: list[dict]) -> set[str]:
    return {c["check"] for c in checks if not c["ok"]}


def _mutate(text: str) -> str:
    return text[:-1] + chr(ord(text[-1]) ^ 1)


def test_linked_crawl_checks() -> None:
    from outage_data_scraper_spark.parsers.families import parse_payload
    from outage_data_scraper_spark.sources.fixtures import render

    seeds = [f"https://h{i % 7}.synth-utility.net/outages/{i}/w8/" for i in range(400)]
    closure = crawls.ccl_closure(seeds)
    assert len(closure) > len(seeds), "the toy web must have outlinks"
    fetched = sorted(closure)
    texts = {u: parse_payload("ccl", render(u, "ccl"), u)[2] for u in closure}
    assert not _failing(crawls.check_linked_crawl(fetched, texts, closure))

    dup = _failing(crawls.check_linked_crawl(fetched + fetched[:1], texts, closure))
    assert dup == {"every url fetched exactly once"}, dup
    short = _failing(crawls.check_linked_crawl(fetched[1:], texts, closure))
    assert short == {"fetched set equals closure"}, short
    sampled = next(u for u in sorted(closure) if zlib.crc32(u.encode()) % crawls.TEXT_SAMPLE_MOD == 0)
    bad = dict(texts, **{sampled: _mutate(texts[sampled])})
    assert _failing(crawls.check_linked_crawl(fetched, bad, closure)) == {"sampled page text equals twin"}


def test_poll_checks() -> None:
    twin = crawls.poll_twin(crawls.reference_seeds(1))
    urls = sorted(twin)
    assert not any(_failing(c) for c in crawls.check_poll_waves({1: urls}, {1: dict(twin)}, twin).values())

    def tripped(fetches, texts):
        return _failing(crawls.check_poll_waves(fetches, texts, twin)[1])

    assert tripped({1: urls + urls[:1]}, {1: dict(twin)}) == {"wave fetches each url once"}
    missing = tripped({1: urls[1:]}, {1: {u: twin[u] for u in urls[1:]}})
    assert missing == {"wave fetches the whole frontier", "page texts equal twin"}, missing
    bad = dict(twin, **{urls[0]: _mutate(twin[urls[0]])})
    assert tripped({1: urls}, {1: bad}) == {"page texts equal twin"}


def test_query_checks() -> None:
    import pandas as pd

    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    assert sha1_rows(rows) == sha1_rows(list(reversed(rows)))
    assert sha1_rows(rows) != sha1_rows([(1, "a", 0.5), (2, "b", 1.26)])
    frame = pd.DataFrame(rows, columns=["k", "s", "v"])
    assert queries.oracle_mismatch(frame, frame.iloc[::-1]) is None
    assert queries.oracle_mismatch(frame, frame.assign(v=[0.5, 1.26])) is not None
    assert queries.oracle_mismatch(frame, pd.concat([frame, frame.iloc[:1]])) is not None


def _run_cli(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def test_cli_metrics() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines = _run_cli(ROOT, wl, trace)
            assert rc == 0 and lines, (wl, trace, rc)
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (wl, trace, got)
            assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
            print(f"ok   {wl} --trace {trace}: {len(got)} metrics", flush=True)


def test_bare_directory_fails() -> None:
    bare = os.path.join(WORK_ROOT, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run_cli(bare, "crawl_linked", 0)
        assert rc != 0 and not any(line.startswith("{") for line in lines), (rc, lines)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    tests = [test_linked_crawl_checks, test_poll_checks, test_query_checks, test_bare_directory_fails]
    if "--quick" not in sys.argv[1:]:
        tests.append(test_cli_metrics)
    for t in tests:
        t()
        print(f"ok   {t.__name__}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
