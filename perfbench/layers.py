"""Per-layer metrics of a traced run (layer = module of etlpy_spark).

Values are per traced operation (the mean over them) unless the name says
otherwise: ``init_from_seeds_s`` is per call during set-up, the
``*_per_round`` counts are per crawl round, and ``filter_mb`` /
``tombstone_rows`` describe the end state. Spark executor figures come
from the event log, credited to spans by job group; Python figures come
from the UDF profiler, credited to layers by function name.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.trace import read_event_log, read_udf_profiles, self_times, subtree_root

SPARK_KEYS = (("exec_run_s", "s"), ("exec_cpu_s", "s"), ("gc_s", "s"),
              ("shuffle_write_mb", "MB"))

# per-op span totals reported as <name>_s
SPAN_TIMES = {
    "crawl.frontier.run_round": "crawl.frontier.run_round_s",
    "crawl.frontier.global_rank": "crawl.frontier.global_rank_s",
    "crawl.frontier.recrawl": "crawl.frontier.recrawl_s",
    "crawl.frontier.forget": "crawl.frontier.forget_s",
    "crawl.filterstate.finish": "crawl.seen.filter_finish_s",
    "crawl.filterstate.rebuild_from": "crawl.seen.rebuild_s",
    "sources.catalog.commit_external": "sources.catalog.commit_external_s",
    "sources.catalog.append_with_deletes": "sources.catalog.append_with_deletes_s",
    "sources.catalog.compact": "sources.catalog.compact_s",
    "operators.dedup.minhash_lsh_pairs": "operators.dedup.minhash_lsh_pairs_s",
    "operators.dedup.ngram_jaccard_pairs": "operators.dedup.ngram_jaccard_pairs_s",
}

PY_UNITS = {
    "sources.synthetic_web.page_py_s": "s",
    "sources.synthetic_web.fetch_image_py_s": "s",
    "functions.url.canon_slow_py_s": "s",
    "functions.url.canon_slow_calls": "count",
    "crawl.seen.probe_py_s": "s",
    "crawl.seen.fold_py_s": "s",
    "sources.catalog.parquet_write_py_s": "s",
    "functions.imagecodec.decode_py_s": "s",
    "functions.imagecodec.decode_calls": "count",
    "functions.imagecodec.phash_py_s": "s",
}


def _sum(per: dict, span_ids, key: str) -> float:
    return sum(per[s].get(key, 0.0) for s in span_ids if s in per)


def layer_metrics(tracer, event_dir: str, session_s: float, prof_dir: str,
                  ops: list, state: dict, untraced_s: float | None) -> dict:
    spans = tracer.spans
    n_ops = max(sum(1 for s in spans if s.name == "op"), 1)
    in_op = subtree_root(spans, {"op"})
    op_spans = [s for s in spans if s.id in in_op]
    per = read_event_log(event_dir, tracer.run_id)
    prof = read_udf_profiles(prof_dir)
    selft = self_times(spans)

    out: dict = {"session.get_spark_s": (session_s, "s")}
    ids = [s.id for s in op_spans]
    out["spark.jobs_per_op"] = (_sum(per, ids, "jobs") / n_ops, "count")
    out["spark.stages_per_op"] = (_sum(per, ids, "stages") / n_ops, "count")
    out["spark.tasks_per_op"] = (_sum(per, ids, "tasks") / n_ops, "count")
    for key, unit in SPARK_KEYS:
        out[f"spark.{key}"] = (_sum(per, ids, key) / n_ops, unit)
    out["python.udf_s"] = (prof.get("python.udf_s", 0.0) / n_ops, "s")

    # tracing overhead: traced operations against an untraced run's median
    # operation, or against this run's untraced operations of equal work
    traced = [o["wall"] for o in ops if o["traced"]]
    if untraced_s is None:
        untraced = [o["wall"] for o in ops if not o["traced"]]
        untraced_s = statistics.median(untraced) if untraced else None
    if traced and untraced_s:
        out["trace.overhead_frac"] = (statistics.median(traced) / untraced_s - 1, "frac")

    totals, selfs = defaultdict(float), defaultdict(float)
    for s in op_spans:
        totals[s.name] += s.dur
        selfs[s.name] += selft[s.id]
    for name, metric in SPAN_TIMES.items():
        if name in totals:
            out[metric] = (totals[name] / n_ops, "s")

    inits = [s.dur for s in spans if s.name == "crawl.frontier.init_from_seeds"]
    if inits:
        out["crawl.frontier.init_from_seeds_s"] = (statistics.median(inits), "s")

    rounds = [s for s in op_spans if s.name == "crawl.frontier.run_round"]
    if rounds:
        n_r = len(rounds)
        out["crawl.frontier.run_round_self_s"] = (selfs["crawl.frontier.run_round"] / n_ops, "s")
        calls = sum(1 for s in op_spans if s.name == "crawl.frontier.global_rank")
        out["crawl.frontier.global_rank_calls"] = (calls / n_ops, "count")
        calls = sum(1 for s in op_spans if s.name == "sources.catalog.compact")
        out["sources.catalog.compact_calls"] = (calls / n_ops, "count")
        under = subtree_root(op_spans, {"crawl.frontier.run_round"})
        rids = list(under)
        for key, label in (("jobs", "spark_jobs"), ("stages", "spark_stages"),
                           ("tasks", "spark_tasks")):
            out[f"crawl.frontier.{label}_per_round"] = (_sum(per, rids, key) / n_r, "count")
        for key, unit in SPARK_KEYS:
            out[f"crawl.frontier.{key}"] = (_sum(per, rids, key) / n_r, unit)
        for name, unit in PY_UNITS.items():
            out[name] = (prof.get(name, 0.0) / n_ops, unit)
        out["sources.synthetic_web.pages_fetched"] = (
            prof.get("sources.synthetic_web.page_calls", 0.0) / n_ops, "count")

    dd = [s for s in op_spans if s.name.startswith("operators.dedup.")]
    if dd:
        dids = list(subtree_root(op_spans, {s.name for s in dd}))
        for key, unit in SPARK_KEYS:
            if key in ("exec_cpu_s", "shuffle_write_mb"):
                out[f"operators.dedup.{key}"] = (_sum(per, dids, key) / n_ops, unit)
        out["operators.dedup.python_udf_s"] = (prof.get("python.udf_s", 0.0) / n_ops, "s")

    out.update(state)
    return out
