#!/usr/bin/env python3
"""Benchmark of the streetview_naturevisibility_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process stages the seeded
inputs, starts a ``local[<nproc>]`` session and runs the workload in a
closed loop (the next iteration starts when the previous one has
returned) for ``--seconds``, then checks the last iteration's outputs.
The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYERS = ("tiling", "sampling", "knn", "gvi", "aggregates", "pip", "zonal",
          "regression", "resume", "textops", "dedup", "corpus", "similarity")
LAYER_METRICS = (("self_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("python_s", "s"),
                 ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("peak_exec_mem_mb", "MB"),
                 ("rows_out", "rows"), ("failed_tasks", "count"))
RATIO_LAYERS = ("knn", "pip", "zonal", "dedup")
STAGE_REPS = 3  # stagings per run; setup_s takes their median
DRIVER_MEM = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def descendants(root: int) -> dict[int, int]:
    """{pid: RSS in kB} of ``root`` and every process below it, from /proc."""
    parent, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        parent[int(d)] = int(fields["PPid"])
        rss[int(d)] = int(fields.get("VmRSS", "0 kB").split()[0])
    children: dict[int, list[int]] = {}
    for p, pp in parent.items():
        children.setdefault(pp, []).append(p)
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        out[p] = rss.get(p, 0)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """Peak resident set of the driver JVM plus its descendants (the
    Python daemon and workers), read from /proc every ``period`` s."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self.period = pid, period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(descendants(self.pid).values()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_session(cpus: int, work: str, event_dir: str | None):
    from streetview_naturevisibility_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every process it started
    (the Python daemon and workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = descendants(gateway.proc.pid)
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def jvm_gc(spark) -> None:
    """Let the ContextCleaner drop the previous iteration's checkpoint
    blocks before the next one is timed."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def measure(spark, wl, tracer, budget: float, work: str, after=None):
    """Closed loop: iterations back to back until the next one would end
    past ``budget`` seconds (at least one). Returns (walls, last result)."""
    from workloads import fresh_dir

    walls, res = [], None
    t0 = time.perf_counter()
    while True:
        out = fresh_dir(os.path.join(work, "out", str(len(walls) % 2)))
        res = None
        jvm_gc(spark)
        ts = time.perf_counter()
        res = wl.run(tracer, out, wl.full)
        walls.append(time.perf_counter() - ts)
        if after:
            after(res)
        tracer.iteration += 1
        if time.perf_counter() - t0 + walls[-1] > budget:
            return walls, res


def layer_table(spans, groups, useful, walls):
    """Per traced iteration: {metric: value}; medians are taken later."""
    from spans import self_times

    st = self_times(spans)
    rows = []
    for it, wall in enumerate(walls):
        its = [s for s in spans if s.iteration == it]
        m = {f"{layer}.{name}": 0.0 for layer in LAYERS for name, _ in LAYER_METRICS}
        for s in its:
            g = groups.get(s.group)
            m[f"{s.layer}.self_s"] += st[s.id]
            m[f"{s.layer}.rows_out"] += s.rows_out
            if g is None:
                continue
            for k in ("cpu_s", "gc_s", "python_s", "shuffle_write_mb", "spill_mb", "failed_tasks"):
                m[f"{s.layer}.{k}"] += getattr(g, k)
            key = f"{s.layer}.peak_exec_mem_mb"
            m[key] = max(m[key], g.peak_exec_mem_mb)

        def joins(name, fed_by_explode):
            return [r for s in its if s.name.startswith(name) and s.group in groups
                    for r in groups[s.group].refine_joins if r[2] == fed_by_explode]

        u = useful[it]
        bases = {
            "knn": (u.get("knn_hits", 0), u.get("knn_candidates", 0)),
            "zonal": (sum(r[0] for r in joins("zonal.", True)), u.get("zonal_candidates", 0)),
            "pip": (sum(s.rows_out for s in its if s.layer == "pip"),
                    sum(groups[s.group].python_rows for s in its if s.layer == "pip" and s.group in groups)),
            "dedup": (sum(s.rows_out for s in its if s.name == "dedup.minhash_lsh_pairs"),
                      sum(r[1] for r in joins("dedup.minhash_lsh_pairs", False))),
        }
        for layer, (num, den) in bases.items():
            m[f"{layer}.useful_ratio"] = num / den if den else 0.0
            m[f"{layer}.useful_base"] = (num, den)
        m["coverage"] = sum(st[s.id] for s in its) / wall
        rows.append(m)
    return rows


def per_layer_names():
    names = [(f"{layer}.{name}", unit) for layer in LAYERS for name, unit in LAYER_METRICS]
    return names + [(f"{layer}.useful_ratio", "ratio") for layer in RATIO_LAYERS]


def describe(walls) -> str:
    from spans import quartiles

    q1, med, q3 = quartiles(walls)
    return f"median {med:.4f} s, q1 {q1:.4f}, q3 {q3:.4f}, n={len(walls)}"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import streetview_naturevisibility_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        print(f"perfbench: {ROOT}/tests/oracle.py (the output oracles) is missing", file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer, find_event_log, group_metrics, read_events

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = workloads.fresh_dir(os.path.join(base, f"{args.workload}-{os.getpid()}"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers import the engine from the checkout, wherever the
    # benchmark is started from; temp files stay inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    tracers: list = []
    results: list = []
    metrics: dict = {}
    error = False
    spark = None
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    try:
        t0 = time.perf_counter()
        spark = start_session(cpus, work, event_dir)
        session_s = time.perf_counter() - t0

        wl = workloads.WORKLOADS[args.workload](spark, args.seed, cpus)
        stage_s = []
        for i in range(STAGE_REPS):
            d = workloads.fresh_dir(os.path.join(work, f"stage{i}"))
            ts = time.perf_counter()
            wl.stage(d)
            stage_s.append(time.perf_counter() - ts)
            if i:
                shutil.rmtree(os.path.join(work, f"stage{i - 1}"))
        plain = Tracer(spark, run_id, enabled=False)
        tracers.append(plain)
        ts = time.perf_counter()
        wl.run(plain, workloads.fresh_dir(os.path.join(work, "out", "warm")), wl.warm)
        warm_s = time.perf_counter() - ts
        setup_s = session_s + statistics.median(stage_s) + warm_s
        print(f"[setup] session {session_s:.3f} s, staging median {statistics.median(stage_s):.3f} s "
              f"of {STAGE_REPS}, warm-up pass {warm_s:.3f} s -> setup_s {setup_s:.4f}")

        if not args.trace:
            with RssSampler(spark.sparkContext._jvm.ProcessHandle.current().pid()) as rss:
                walls, res = measure(spark, wl, plain, args.seconds, work)
            wall = statistics.median(walls)
            print(f"[wall_s] {describe(walls)}")
            metrics = {
                "wall_s": {"value": wall, "unit": "s"},
                "items_per_s": {"value": wl.items / wall, "unit": "items/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": rss.peak_kb / 1024, "unit": "MB"},
            }
            results = report_checks(wl.check(res))
        else:
            walls_plain, _ = measure(spark, wl, plain, args.seconds / 2, work)
            tracer = Tracer(spark, run_id, enabled=True)
            tracers.append(tracer)
            useful = []
            walls, res = measure(spark, wl, tracer, args.seconds / 2, work,
                                 after=lambda r: useful.append(wl.useful_counts(r)))
            results = report_checks(wl.check(res))
            stop_session(spark)
            spark = None
            groups = group_metrics(read_events(find_event_log(event_dir)))
            trace_dir = os.path.join(base, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
            metrics = report_layers(layer_table(tracer.spans, groups, useful, walls), walls, walls_plain)
    except Exception:
        traceback.print_exc()
        error = True
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(t.calls for t in tracers) + len(results)
    failed = sum(t.failed for t in tracers) + sum(1 for _, p in results if p)
    if error:  # an exception outside an operator call counts as one more failed operation
        attempted, failed = attempted + (failed == 0), max(failed, 1)
    print(f"[ops] attempted {attempted}, failed {failed}, failed_frac {failed / max(attempted, 1):.4g}")
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def report_checks(results):
    for name, problems in results:
        status = "ok" if not problems else "FAILED: " + "; ".join(problems[:10])
        print(f"[check] {name}: {status}")
    return results


def report_layers(rows, walls, walls_plain) -> dict:
    """Per-layer metrics as medians over the traced iterations, with the
    overhead, coverage and ratio-base lines printed."""
    metrics = {name: {"value": statistics.median(r[name] for r in rows), "unit": unit}
               for name, unit in per_layer_names()}
    print(f"[trace] untraced wall_s {describe(walls_plain)}")
    print(f"[trace] traced wall_s {describe(walls)}")
    print(f"[trace] tracing overhead {statistics.median(walls) - statistics.median(walls_plain):.4f} s")
    print(f"[trace] layer self-times cover {statistics.median(r['coverage'] for r in rows):.1%} "
          "of the traced wall")
    for layer in RATIO_LAYERS:
        num, den = rows[-1][f"{layer}.useful_base"]
        print(f"[trace] {layer}.useful_ratio {metrics[layer + '.useful_ratio']['value']:.6g} "
              f"(last iteration: {num} useful of {den} attempted)")
    for layer in LAYERS:
        vals = " ".join(f"{n}={metrics[f'{layer}.{n}']['value']:.4g}" for n, _ in LAYER_METRICS)
        print(f"[layer] {layer}: {vals}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
