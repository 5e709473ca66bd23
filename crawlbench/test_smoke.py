"""Small-size smoke tests of the benchmark's workloads and their oracles.

    python3 -m pytest crawlbench/test_smoke.py -q

Each workload runs at a tiny size in its own process (and JVM), once
traced to check the full metric set, and once against corrupted golden
texts (and, for the crawl, a round that raises; for the live fetch,
dropped rows) to check that a wrong output becomes failed URLs and a
non-zero exit code. About six minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from crawlbench import run  # noqa: E402

TINY = {"BULK_PAGES": 600, "CRAWL_PAGES": 400, "CRAWL_SEEDS": 120}
TINY_CRAWL_KW = {"batch_size": 40, "host_budget": 3}


CORRUPT_GOLDEN = """
real = inputs.golden_texts
inputs.golden_texts = lambda d: {u: t if t is None else t + "!" for u, t in real(d).items()}
"""
RAISE_IN_ROUND_1 = """
from web_scraper_v1_spark.plans.crawl import CrawlEngine
real = CrawlEngine._run_round
def _run_round(self, r, *a, **k):
    if r == 1:
        raise RuntimeError("injected")
    return real(self, r, *a, **k)
CrawlEngine._run_round = _run_round
"""

DROP_LIVE_ROWS = """
real = workloads._fetch_via_origin
workloads._fetch_via_origin = lambda frontier, port: real(frontier.filter("url_hash % 2 = 0"), port)
"""


def _run(workload: str, trace: int, inject: str = "") -> tuple[int, dict]:
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from crawlbench import inputs, run, workloads
        for k, v in {TINY!r}.items():
            setattr(workloads, k, v)
        workloads.CRAWL_KW.update({TINY_CRAWL_KW!r})
    """) + inject + textwrap.dedent(f"""
        sys.exit(run.main(["--workload", {workload!r}, "--seed", "7",
                           "--seconds", "0", "--trace", "{trace}"]))
    """)
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, text=True, timeout=900,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    print(p.stderr[-4000:])  # shown on failure
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.E2E_METRICS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(s) for s in run.layer_metric_specs()
    ]


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_traced_run_is_correct_and_reports_every_layer(workload):
    code, res = _run(workload, trace=1)
    assert code == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {name for name, _, _ in run.layer_metric_specs()}
    assert res["metrics"]["trace.overhead_frac"]["value"] > 0.0


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_oracle_catches_a_wrong_text(workload):
    code, res = _run(workload, trace=0, inject=CORRUPT_GOLDEN)
    assert code == 1 and not res["correct"] and res["failed"] >= 1
    assert set(res["metrics"]) == {name for name, _ in run.E2E_METRICS}


def test_live_fetch_oracle_catches_dropped_rows():
    code, res = _run("wave_bulk", trace=1, inject=DROP_LIVE_ROWS)
    assert code == 1 and not res["correct"] and res["failed"] >= 1


def test_a_crawl_round_that_raises_fails_its_urls():
    code, res = _run("crawl_rounds", trace=0, inject=RAISE_IN_ROUND_1)
    assert code == 1 and not res["correct"] and res["failed"] >= 1
