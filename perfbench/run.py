"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 5 --trace 0

Workloads: ``sync_incremental`` and ``query_mix`` (see
``perfbench/README.md``). The program is driven in-process on one
``local[nproc]`` session through its public entry points: the sync CLI's
``main`` with default flags, and the query registry's functions.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones, and the spans are
written to ``.bench_work/spans-<workload>-<seed>.json``. The line before it
names the workload's figures in the terms of its own operations. Timings
are walls scaled to a reference host speed (``hostspeed.py``); the raw
walls are printed on the line before the JSON. The exit code is non-zero
when the program cannot be imported or a check fails.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# traced runs fail when the layer spans under the CLI (runner, sources,
# sinks, es_sink; plans on the query mix) leave more than 10% of the traced
# operations' wall to the CLI's and the benchmark's own self time; the CLI's
# inline work (its per-index mirror-reconcile counts) is about 7% of a sync
MIN_COVERAGE = 0.90


class TreeRss:
    """Peak RSS of this process and its descendants, sampled from
    ``/proc``: the whole tree, the JVM alone, and the Python processes
    (main process and PySpark workers). The fake ES is not the program and is
    left out once :attr:`exclude` holds its pid."""

    EVERY_S = 0.25

    def __init__(self) -> None:
        self.peak_kb = {"all": 0, "jvm": 0, "python": 0}
        self.exclude: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        rss: dict[int, tuple[str, int]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            children.setdefault(int(fields["PPid"]), []).append(int(pid))
            rss[int(pid)] = (fields["Name"].strip(),
                             int(fields.get("VmRSS", "0 kB").split()[0]))
        now = dict.fromkeys(self.peak_kb, 0)
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid == self.exclude:
                continue
            name, kb = rss.get(pid, ("", 0))
            now["all"] += kb
            if name == "java":
                now["jvm"] += kb
            elif name.startswith("python"):
                now["python"] += kb
            todo += children.get(pid, [])
        for k, kb in now.items():
            self.peak_kb[k] = max(self.peak_kb[k], kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.EVERY_S):
            self._sample()

    def stop(self) -> dict[str, float]:
        """Stop sampling; peaks in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return {k: kb / 1024.0 for k, kb in self.peak_kb.items()}


def stop_jvm() -> None:
    """End the py4j gateway JVM the session ran in and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def start_fake_es(threads: int) -> tuple[subprocess.Popen, int]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "fake_es.py"), "--threads", str(threads)],
        stdout=subprocess.PIPE, text=True)
    line = proc.stdout.readline()
    if not line.startswith("port "):
        proc.kill()
        proc.wait()
        raise RuntimeError("fake ES did not start")
    return proc, int(line.split()[1])


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["sync_incremental", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    cpus = os.cpu_count() or 4
    os.environ["TZ"] = "UTC"  # naive watermarks and parquet stamps agree
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the PySpark workers unpickle the program's kernels, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        import prefect_flow_arc_indexer_spark.__main__  # noqa: F401
        import prefect_flow_arc_indexer_spark.plans  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import hostspeed
    from spans import Tracer, install
    from workloads import WORKLOADS, Run, layer_metrics, unit_of

    hostspeed.probe()  # the first probe jobs after an idle spell read slow

    os.makedirs(work, exist_ok=True)
    tracer = Tracer()
    install(tracer)
    run = Run(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), tracer=tracer)
    rss = TreeRss()
    es, port = start_fake_es(cpus)
    rss.exclude = es.pid
    try:
        result = WORKLOADS[args.workload](run, port)
    finally:
        if run.spark is not None:
            run.spark.stop()
            stop_jvm()
        es.send_signal(signal.SIGTERM)
        es.wait()
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    log = result["log"]
    ok = run.attempted - run.failed
    if args.trace:
        layers = layer_metrics(run, result)
        layers.update({"mem.peak_rss_mb": peak_mb["all"], "mem.jvm_rss_mb": peak_mb["jvm"],
                       "mem.py_rss_mb": peak_mb["python"]})
        if layers["trace.coverage"] < MIN_COVERAGE:
            run.fail(f"layer spans cover {layers['trace.coverage']:.3f} of the "
                     f"traced wall, below {MIN_COVERAGE}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        spans_path = os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.to_json(), f)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(run.setup_s), "unit": "s"},
            "op_s": {"value": log.median(result["primary"]), "unit": "s"},
            "py_rss_mb": {"value": peak_mb["python"], "unit": "MB"},
            "ok_ratio": {"value": ok / run.attempted, "unit": "ratio"},
        }
    named = {**result["named"], "setup_s": (statistics.median(run.setup_s), "s"),
             "peak_rss_mb": (peak_mb["all"], "MB"), "jvm_rss_mb": (peak_mb["jvm"], "MB"),
             "py_rss_mb": (peak_mb["python"], "MB"),
             "failed_ratio": (run.failed / run.attempted, "ratio")}
    print(f"{args.workload} seed={args.seed} cpus={cpus} inputs={run.sizes} "
          + " ".join(f"{k}={v:.4f} {u}" for k, (v, u) in named.items())
          + f" setups_s={[round(x, 3) for x in run.setup_s]}"
          + f" setups_raw_s={[round(x, 3) for x in run.setup_raw_s]}"
          + f" walls_s={ {k: [round(x, 3) for x in v] for k, v in log.walls.items()} }"
          + f" walls_raw_s={ {k: [round(x, 3) for x in v] for k, v in log.raw.items()} }")
    for what in run.problems[:20]:
        print(f"FAILED: {what}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
