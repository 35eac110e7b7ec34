"""Tests of the benchmark itself: every workload prints its named metrics
with units at a tiny size, a planted output fault fails the output check,
the traced run's spans form a tree, and the benchmark's oracles agree with
the program's own.

Run from the repository root: ``python -m pytest perfbench/tests -q``
(about seven minutes on 4 cores: each tiny run starts its own Spark
session).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)

E2E = {"setup_s": "s", "wall_s": "s", "state_mb": "MB", "failed_frac": "frac"}
E2E_BY_KIND = {
    "crawl": {**E2E, "urls_per_s": "1/s", "images_per_s": "1/s", "round_s_p50": "s"},
    "dedup": {**E2E, "docs_per_s": "1/s"},
}
# the metric BENCHMARK.json's items_per_s stands for
GATED_RATE = {"crawl": "urls_per_s", "dedup": "docs_per_s"}
LAYERS_COMMON = {
    "session.get_spark_s": "s", "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "python.udf_s": "s",
    "trace.overhead_frac": "frac",
}
LAYERS_BY_KIND = {
    "crawl": {**LAYERS_COMMON, **{f"crawl.frontier.{k}": u for k, u in {
        "init_from_seeds_s": "s", "run_round_s": "s", "run_round_self_s": "s",
        "global_rank_s": "s", "global_rank_calls": "count", "recrawl_s": "s",
        "forget_s": "s", "spark_jobs_per_round": "count", "spark_stages_per_round": "count",
        "spark_tasks_per_round": "count", "exec_cpu_s": "s", "exec_run_s": "s",
        "gc_s": "s", "shuffle_write_mb": "MB"}.items()},
        "sources.synthetic_web.page_py_s": "s", "sources.synthetic_web.pages_fetched": "count",
        "sources.synthetic_web.fetch_image_py_s": "s",
        "functions.url.canon_slow_py_s": "s", "functions.url.canon_slow_calls": "count",
        "crawl.seen.probe_py_s": "s", "crawl.seen.fold_py_s": "s",
        "crawl.seen.filter_finish_s": "s", "crawl.seen.rebuild_s": "s",
        "crawl.seen.filter_mb": "MB",
        "sources.catalog.commit_external_s": "s", "sources.catalog.append_with_deletes_s": "s",
        "sources.catalog.compact_s": "s", "sources.catalog.compact_calls": "count",
        "sources.catalog.tombstone_rows": "count", "sources.catalog.parquet_write_py_s": "s",
        "functions.imagecodec.decode_py_s": "s", "functions.imagecodec.phash_py_s": "s",
        "functions.imagecodec.decode_calls": "count"},
    "dedup": {**LAYERS_COMMON, "operators.dedup.minhash_lsh_pairs_s": "s",
              "operators.dedup.ngram_jaccard_pairs_s": "s", "operators.dedup.exec_cpu_s": "s",
              "operators.dedup.python_udf_s": "s", "operators.dedup.shuffle_write_mb": "MB"},
}
KIND = {"frontier_steady": "crawl", "image_merge": "crawl", "recrawl_churn": "crawl",
        "doc_dedup": "dedup"}
METRIC_LINE = re.compile(r"^metric (\S+) (\S+) (\S+)$")


def run_bench(workload: str, trace: int, cwd: str = ROOT, seconds: str = "0.1"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", seconds, "--trace", str(trace), "--scale", "0.05"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def printed_metrics(stdout: str) -> dict:
    out = {}
    for line in stdout.splitlines():
        m = METRIC_LINE.match(line)
        if m:
            out[m.group(1)] = (float(m.group(2)), m.group(3))
    return out


def check_result_line(stdout: str, key: str) -> dict:
    res = json.loads(stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    for entry in SPEC[key]:
        got = res["metrics"][entry["name"]]
        assert got["unit"] == entry["unit"]
        assert isinstance(got["value"], float)
    assert set(res["metrics"]) == {e["name"] for e in SPEC[key]}
    return res["metrics"]


@pytest.mark.parametrize("workload", sorted(KIND))
def test_tiny_run_prints_every_end_to_end_metric(workload):
    p = run_bench(workload, trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    got = printed_metrics(p.stdout)
    for name, unit in E2E_BY_KIND[KIND[workload]].items():
        assert name in got, f"{name} not printed"
        assert got[name][1] == unit
    assert got["failed_frac"][0] == 0
    gated = check_result_line(p.stdout, "end_to_end")
    assert gated["items_per_s"]["value"] == pytest.approx(got[GATED_RATE[KIND[workload]]][0],
                                                          rel=1e-5)


@pytest.mark.parametrize("workload", ["recrawl_churn", "doc_dedup"])
def test_traced_run_prints_layers_and_writes_a_span_tree(workload):
    out_dir = os.path.join(ROOT, ".perfbench_out")
    before = set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()
    p = run_bench(workload, trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    got = printed_metrics(p.stdout)
    for name, unit in LAYERS_BY_KIND[KIND[workload]].items():
        assert name in got, f"{name} not printed"
        assert got[name][1] == unit
    check_result_line(p.stdout, "per_layer")
    assert "trace overhead base: " in p.stdout

    new = [f for f in set(os.listdir(out_dir)) - before
           if f.startswith(workload) and f.endswith("-spans.json")]
    assert len(new) == 1
    with open(os.path.join(out_dir, new[0]), encoding="utf-8") as f:
        spans = json.load(f)
    assert_span_tree(spans)
    names = {s["name"] for s in spans}
    if workload == "recrawl_churn":
        assert {"crawl.frontier.run_round", "crawl.frontier.recrawl",
                "crawl.frontier.forget", "crawl.filterstate.rebuild_from"} <= names


def assert_span_tree(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    assert len(by_id) == len(spans)
    assert len({s["run"] for s in spans}) == 1
    for s in spans:
        assert s["end"] >= s["start"]
        seen = {s["id"]}
        cur = s
        while cur["parent"] is not None:
            parent = by_id[cur["parent"]]  # every parent link resolves
            assert parent["start"] <= cur["start"] and cur["end"] <= parent["end"]
            assert parent["id"] not in seen  # and never loops
            seen.add(parent["id"])
            cur = parent
        assert cur["name"] in ("op", "crawl.frontier.init_from_seeds")


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench("doc_dedup", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# -- output checks with planted faults (one Spark session) ------------------


@pytest.fixture(scope="module")
def spark():
    from etlpy_spark.session import get_spark
    from perfbench.hoststate import cpu_count

    n = cpu_count()
    s = get_spark(app_name="perfbench-tests", master=f"local[{n}]", shuffle_partitions=n)
    yield s


def test_planted_crawl_log_fault_fails_the_check(spark, tmp_path):
    from perfbench.workloads import CrawlWorkload

    wl = CrawlWorkload(spark, "recrawl_churn", 5, 0.05, 2, str(tmp_path))
    wl.setup()
    for i in range(3):
        wl.prepare(i)
        assert wl.check_op(i, wl.op(i, None)) == []
    got = wl.engine_outputs()
    assert wl.check_final(got) == []
    dropped = dict(got, crawl_log=got["crawl_log"][:3] + got["crawl_log"][4:])
    fails = wl.check_final(dropped)
    assert len(fails) == 1 and "crawl log" in fails[0]
    swapped = list(got["crawl_log"])
    swapped[0], swapped[1] = (swapped[0][0], swapped[1][1]), (swapped[1][0], swapped[0][1])
    assert wl.check_final(dict(got, crawl_log=swapped))


def test_planted_pair_fault_fails_the_check(spark, tmp_path):
    import contextlib

    from perfbench.workloads import DedupWorkload

    wl = DedupWorkload(spark, "doc_dedup", 5, 0.05, 2, str(tmp_path))
    wl.setup()
    out = wl.op(0, lambda name: contextlib.nullcontext())
    assert wl.check_op(0, out) == []
    fails = wl.check_op(0, dict(out, ngram=out["ngram"][1:]))
    assert len(fails) == 1 and "ngram" in fails[0] and "1 missing" in fails[0]


# -- the benchmark's oracles against the program's ---------------------------


def test_serial_crawl_matches_the_program_oracle():
    from etlpy_spark.crawl.oracle import crawl_oracle
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls
    from perfbench.serial_crawl import SerialCrawl

    web = WebConfig(seed=9, n_hosts=9, n_cats=3, pages_per_cat=20, politeness_budget=3,
                    skew_host0=3, max_images=2, image_universe=300)
    seeds = seed_urls(web, n_per_host=3)
    exp = crawl_oracle(seeds, web, max_rounds=4)
    sc = SerialCrawl(web)
    sc.init_from_seeds(seeds)
    for _ in range(4):
        sc.round()
    assert sc.res.crawl_log == exp.crawl_log
    assert sc.res.seen == exp.seen
    assert sc.res.metrics == exp.metrics
    assert {k: v["phash"] for k, v in sc.res.images.items()} == \
        {k: v["phash"] for k, v in exp.images.items()}


def test_pair_oracle_matches_the_program_oracle_sql():
    from etlpy_spark.entry_queries_ml import _jaccard_sql
    from perfbench.workloads import load_documents, oracle_pairs, sample_doc_ids

    docs = load_documents(sample_doc_ids(4, 120))
    fast = oracle_pairs(docs)
    assert fast and fast == oracle_pairs(docs, _jaccard_sql(3, 0.6))
