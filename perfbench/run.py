"""Benchmark of the etlpy_spark crawl and dedup engine.

Run from the repository root:

    python3 perfbench/run.py --workload recrawl_churn --seed 1 --seconds 1 --trace 0

One process, one workload, one closed loop: the driver thread issues an
operation (a crawl round with its churn batches, or both pair-mining
queries) after the previous one returns, on ``local[nproc]`` with shuffle
partitions and politeness buckets set to ``nproc``. Inputs come from
``--seed`` only. After the set-up and one untimed warm-up operation,
timed operations run until ``--seconds`` of their wall time has passed,
two at least; the serial oracle and the output checks run between and
after them, outside the timed section. A throughput is the median over
the timed operations of each one's items per second of wall.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the traced
run: Spark's event log is on for the whole run, and spans, job groups and
the Python UDF profiler for every other timed operation; it prints the
per-layer metrics and the tracing overhead: the traced operations' median
wall against that of the latest untraced run of the same workload and seed
in the checkout, or, without one, against the untraced operations of the
same run (which leaves the event log's cost out).

Every metric is printed as ``metric <name> <value> <unit>``; the last line
is one JSON object with the metrics listed in BENCHMARK.json. Results, the
host stamp and spans are written under ``.perfbench_out/``. The exit code
is 0 when every output check passed, 1 when one failed and 2 when the
command cannot run here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

BENCH_SPEC = "BENCHMARK.json"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink the workload's input (tests use < 1)")
    return ap.parse_args(argv)


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM py4j launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _reap_children(timeout: float = 30.0) -> None:
    from perfbench.hoststate import descendants

    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


# timed operations per run, at least, whatever --seconds says; a traced
# run times one more, so that it has two untraced ones to compare with
# the traced one
MIN_OPS = 2
# BENCHMARK.json gates one throughput on every workload under this name:
# the workload's first counter per second (urls_per_s, docs_per_s)
GATED_RATE = "items_per_s"


def untraced_base(out_dir: str, args) -> tuple[float, str] | None:
    """Median operation wall of the latest untraced run of the same
    workload, seed and scale in this checkout, and its run id."""
    best = None
    prefix = f"{args.workload}-s{args.seed}-t0-"
    for name in os.listdir(out_dir):
        if not (name.startswith(prefix) and name.endswith(".json")) or "spans" in name:
            continue
        path = os.path.join(out_dir, name)
        with open(path, encoding="utf-8") as f:
            r = json.load(f)
        if r.get("scale") != args.scale or r.get("failures") or not r.get("ops"):
            continue
        mtime = os.path.getmtime(path)
        if best is None or mtime > best[0]:
            best = (mtime, statistics.median(o["wall"] for o in r["ops"]), r["run_id"])
    return best[1:] if best else None


def run(args, root: str) -> dict:
    from perfbench.hoststate import cpu_count, host_stamp, steal_share

    nproc = cpu_count()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    out_dir = os.path.join(root, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Spark, both JVMs (spark-submit's launcher and the driver) and the
    # Python workers write scratch files here only: SPARK_LOCAL_DIRS takes
    # precedence over spark.local.dir, and HotSpot writes a perf-data file
    # to /tmp unless it is turned off
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the session's default 8g driver heap would let the JVM grow past what
    # this small input needs on a host shared with other work
    os.environ["ETLPY_DRIVER_MEM"] = "2g"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })

    before = host_stamp()
    from etlpy_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"session": time.perf_counter() - t0}

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    res: dict = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
                 "scale": args.scale, "trace": args.trace, "nproc": nproc,
                 "failures": [], "phases_s": phases}
    tracer = Tracer(spark.sparkContext, run_id)
    try:
        wl = WORKLOADS[args.workload](spark, args.workload, args.seed, args.scale, nproc, work)
        if args.trace:
            tracer.install()
        tracer.enabled = bool(args.trace)
        t = time.perf_counter()
        wl.setup()
        phases["build"] = time.perf_counter() - t
        tracer.enabled = False

        # operations 0 .. warmup_ops-1 finish the set-up (untimed); then
        # timed operations run until --seconds of their wall time has
        # passed, MIN_OPS at least. A traced run traces every other one,
        # from the second on, so that traced and untraced operations of
        # equal work compare.
        warm = wl.warmup_ops
        min_ops = MIN_OPS + args.trace
        ops: list[dict] = []  # wall, traced flag and counts of timed operations
        failed = attempted = 0
        i = 0
        t_ops = time.perf_counter()
        while i < warm + min_ops or sum(o["wall"] for o in ops) < args.seconds:
            wl.prepare(i)
            traced = bool(args.trace) and i >= warm and (i - warm) % 2 == 1
            if traced:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tracer.enabled = traced
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    out = wl.op(i, tracer.span)
            except Exception:
                traceback.print_exc()
                failed += 1
                res["failures"].append(f"op {i} raised")
                break
            finally:
                tracer.enabled = False
                if traced:
                    spark.conf.unset("spark.sql.pyspark.udf.profiler")
            wall = time.perf_counter() - t
            if i < warm:
                phases["warmup"] = phases.get("warmup", 0.0) + wall
            else:
                ops.append({"wall": wall, "traced": traced, **wl.count(out)})
            fails = wl.check_op(i, out)
            if fails:
                failed += 1
                res["failures"].extend(fails)
            i += 1
        phases["ops_and_oracle"] = time.perf_counter() - t_ops

        t = time.perf_counter()
        if not res["failures"]:
            fails = wl.check_final(wl.engine_outputs())
            if fails:
                res["failures"].extend(fails)
                failed = attempted
        phases["final_check"] = time.perf_counter() - t
        res["attempted"], res["failed"] = attempted, failed
        res["ops"] = ops
        wall = sum(o["wall"] for o in ops) or float("nan")
        m = {
            "setup_s": (phases["session"] + phases["build"] + phases.get("warmup", 0.0), "s"),
            "wall_s": (wall, "s"),
            "state_mb": (wl.state_bytes() / 1e6, "MB"),
            "failed_frac": (failed / attempted, "frac"),
        }
        # throughput: the median operation's items per second of wall
        for k in wl.counters:
            m[f"{k}_per_s"] = (statistics.median(o[k] / o["wall"] for o in ops)
                               if ops else float("nan"), "1/s")
        if wl.op_name != "op" and ops:
            m[f"{wl.op_name}_s_p50"] = (statistics.median(o["wall"] for o in ops), "s")
        res["gated"] = {GATED_RATE: f"{wl.counters[0]}_per_s"}
        if args.trace:
            tracer.uninstall()
            prof_dir = os.path.join(work, "profiles")
            spark.profile.dump(prof_dir, type="perf")
            base = untraced_base(out_dir, args)
            res["overhead_base"] = base[1] if base else "untraced operations of this run"
            layer_inputs = {"prof_dir": prof_dir, "ops": ops, "state": wl.layer_state(),
                            "untraced_s": base[0] if base else None}
    finally:
        t = time.perf_counter()
        _stop_jvm(spark)
        _reap_children()
        phases["stop"] = time.perf_counter() - t

    res["metrics"] = m
    if args.trace:
        from perfbench.layers import layer_metrics

        res["layers"] = layer_metrics(tracer, event_dir, phases["session"], **layer_inputs)
        res["calls"] = dict(tracer.calls)
        with open(os.path.join(out_dir, f"{run_id}-spans.json"), "w") as f:
            json.dump([s.__dict__ for s in tracer.spans], f)
    after = host_stamp()
    res["host"] = {"before": before, "after": after, "steal_share": steal_share(before, after)}
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    return res


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "etlpy_spark")):
        print("perfbench: etlpy_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    if root not in sys.path:
        sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, BENCH_SPEC), encoding="utf-8") as f:
        spec = json.load(f)

    res = run(args, root)
    h = res["host"]
    print(f"host nproc={h['before']['nproc']} load_before={h['before']['loadavg']} "
          f"load_after={h['after']['loadavg']} steal_share={h['steal_share']:.4f}")
    for msg in res["failures"]:
        print(f"check FAILED: {msg}")
    shown = res["layers"] if args.trace else res["metrics"]
    for name, (value, unit) in sorted(shown.items()):
        print(f"metric {name} {value:.6g} {unit}")
    if args.trace:
        print(f"trace overhead base: {res['overhead_base']}")
    key = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for entry in spec[key]:
        value, unit = shown[res["gated"].get(entry["name"], entry["name"])]
        metrics[entry["name"]] = {"value": value, "unit": unit}
    print(json.dumps({"correct": not res["failures"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if not res["failures"] else 1


if __name__ == "__main__":
    sys.exit(main())
