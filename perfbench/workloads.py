"""The benchmark workloads, ``sync_incremental`` and ``query_mix``. Each is
a closed loop with one client that waits for every operation, like the
reference's scheduled flow.

A workload function gets a :class:`Run` and returns the workload's figures.
Every operation is timed on its own; generation, output checks and
snapshots happen between operations, outside the timed windows. Each timed
operation and each set-up runs in a :class:`hostspeed.Window`, and the
figures are its walls scaled to the reference host speed.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import statistics
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq

from gen import SyncCorpus, fingerprint
from hostspeed import Window
from spans import Tracer, coverage, self_times

APP = "arc-indexer-cli"
N_SETUPS = 3  # set-ups per run; setup_s is their median

# corpus size and index count of the sync workload, and the CDC batch
# shares; the per-index fixed cost, not the corpus bytes, sets a sync's wall
SYNC_DOCS, SYNC_INDEXES = 12_000, 4
SMALL_SHARE, LARGE_SHARE = 0.001, 0.10
# the CDC schedule: small batches for --seconds (at least MIN_SMALL; op_s
# is their median, which a slower first incremental sync does not move).
# Traced runs end with one large batch that also carries a new index and a
# schema_name drift; untraced runs skip it, so every timed batch syncs the
# same indexes
MIN_SMALL = 3
MIN_PASSES = 2  # timed query passes per run; op_s is their median

# the query tables: a byte-for-byte copy of the repository's read-only
# sf0.01 test tables (seed 42), the scale its DuckDB oracles are checked at;
# the seed shuffles the query order of each pass
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# one or two queries from each of the five query families
QUERIES = (
    "q_kmeans",  # iterative, build-bound
    "q_char_entropy", "q_percentiles",  # Arrow kernels
    "q_decontaminate",  # CPU-bound text
    "q_window_suite",  # shuffle-heavy
    "q_doc_actions", "q_incremental_select",  # the reference surface
)


@dataclass
class Run:
    root: str  # the checkout
    work: str  # scratch dir inside the checkout
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)  # scaled walls
    setup_raw_s: list[float] = field(default_factory=list)
    session_s: list[float] = field(default_factory=list)
    sizes: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def add_setup(self, wall: float, scale: float) -> None:
        self.setup_raw_s.append(wall)
        self.setup_s.append(wall * scale)

    def new_session(self):
        """Stop the current session and start a fresh one (one set-up)."""
        from prefect_flow_arc_indexer_spark import session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = session.get_spark(APP)
        self.session_s.append(time.perf_counter() - t0)
        return self.spark

    def should_trace(self, n_done: int) -> bool:
        """Traced runs alternate: even operations of a class are traced,
        odd ones are not, so one run yields both walls."""
        return self.trace and n_done % 2 == 0


# -- sync helpers ---------------------------------------------------------------

def run_cli(run: Run, argv: list[str]) -> dict | None:
    """One default-flag CLI invocation in-process; returns its report."""
    from prefect_flow_arc_indexer_spark import __main__ as cli

    run.attempted += 1
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            rc = cli.main(argv)
    except Exception as exc:  # noqa: BLE001 - any raise is a failed sync
        run.fail(f"cli raised {type(exc).__name__}: {exc}")
        return None
    if rc != 0:
        run.fail(f"cli exit code {rc}")
        return None
    return json.loads(out.getvalue().strip().splitlines()[-1])


def es_get(port: int, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as r:
        return json.loads(r.read())


def inode_snapshot(base: str) -> dict[tuple[int, int, int], tuple[str, int]]:
    """Files under ``base`` keyed by inode. The mtime in the key keeps a
    recycled inode number from passing for an old file; hard links share
    it, so a linked file keeps its key."""
    out = {}
    for d, _, files in os.walk(base):
        for f in files:
            st = os.stat(os.path.join(d, f))
            key = (st.st_dev, st.st_ino, st.st_mtime_ns)
            out[key] = (os.path.join(d, f), st.st_size)
    return out


def dir_bytes(path: str) -> int:
    return sum(size for _, size in inode_snapshot(path).values())


def check_sync(run: Run, corpus: SyncCorpus, sink: str, port: int,
               report: dict | None, full: bool) -> None:
    """Sink generations and ES aliases against the generator's truth."""
    if report is None:
        return
    bad = [k for k, v in report["reconcile_ok"].items() if v is not True]
    bad += [k for k, v in report["mirror_reconcile"].items() if v is not True]
    if full:
        bad += [k for k, v in report["mirror_published"].items() if not v]
    if report["rolled_back"]:
        bad += report["rolled_back"]
    truth = {name: fingerprint(docs.items()) for name, docs in corpus.live().items()}
    with open(os.path.join(sink, "manifest.json")) as f:
        manifest = json.load(f)
    if set(manifest) != set(truth):
        bad.append(f"aliases {sorted(set(manifest) ^ set(truth))}")
    for name, want in truth.items():
        if name not in manifest:
            continue
        t = pq.read_table(os.path.join(sink, manifest[name]), columns=["id", "document"])
        if fingerprint(zip(t.column("id").to_pylist(),
                           t.column("document").to_pylist())) != want:
            bad.append(f"sink:{name}")
        try:
            got = es_get(port, f"/_bench/fingerprint/{name}")
        except OSError:
            got = {}
        if (got.get("count"), got.get("sum")) != want:
            bad.append(f"es:{name}")
    if bad:
        run.fail(f"sync check failed for {bad[:5]}")


@dataclass
class OpLog:
    """Walls per operation class: the raw walls, and the walls scaled to the
    reference host speed, split by whether the op was traced."""

    raw: dict[str, list[float]] = field(default_factory=dict)
    walls: dict[str, list[float]] = field(default_factory=dict)
    traced: dict[str, list[float]] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)

    def add(self, kind: str, wall: float, scale: float, traced: bool) -> None:
        self.raw.setdefault(kind, []).append(wall)
        (self.traced if traced else self.walls).setdefault(kind, []).append(wall * scale)

    def count(self, kind: str) -> int:
        return len(self.walls.get(kind, [])) + len(self.traced.get(kind, []))

    def median(self, kind: str, traced: bool | None = False) -> float:
        """Median scaled wall of ``kind``: untraced ops, traced ops, or
        (None) all."""
        if traced is None:
            vals = self.walls.get(kind, []) + self.traced.get(kind, [])
        else:
            vals = (self.traced if traced else self.walls).get(kind, [])
        return statistics.median(vals) if vals else 0.0


class SinkMeter:
    """New-inode bytes and files written into the sink by one operation,
    plus bucket-layout counts and ES shipping counters."""

    def __init__(self) -> None:
        self.totals = dict.fromkeys(
            ("bytes_written", "files_written", "touched_buckets",
             "linked_files", "changed_rows", "changed_bytes", "requests",
             "bulk_bytes", "docs_shipped", "rejected", "skipped_indexes"), 0)

    @contextlib.contextmanager
    def measure(self, sink: str, port: int, active: bool = True):
        if not active:
            yield
            return
        before = inode_snapshot(sink)
        es0 = es_get(port, "/_bench/stats")
        yield
        after = inode_snapshot(sink)
        es1 = es_get(port, "/_bench/stats")
        new = [v for k, v in after.items() if k not in before]
        self.totals["bytes_written"] += sum(size for _, size in new)
        self.totals["files_written"] += len(new)
        self.totals["touched_buckets"] += len({
            os.path.dirname(p) for p, _ in new if "bucket=" in p})
        self.totals["linked_files"] += sum(
            1 for k, (p, _) in after.items()
            if k in before and before[k][0] != p)
        self.totals["requests"] += es1["requests"] - es0["requests"]
        self.totals["bulk_bytes"] += es1["bulk_bytes"] - es0["bulk_bytes"]
        self.totals["docs_shipped"] += (
            es1["docs_indexed"] + es1["docs_deleted"]
            - es0["docs_indexed"] - es0["docs_deleted"])
        self.totals["rejected"] += es1["rejected"] - es0["rejected"]


def _published_bytes(sink: str) -> int:
    with open(os.path.join(sink, "manifest.json")) as f:
        return sum(dir_bytes(os.path.join(sink, g)) for g in json.load(f).values())


def _sync_op(run: Run, log: OpLog, meter: SinkMeter, kind: str, argv: list[str],
             sink: str, port: int, changed_rows: int, changed_bytes: int):
    """One timed CLI sync; traced runs trace every other op of a class.
    Returns the report, the raw wall and whether the op was traced; the
    caller logs the wall once its probe window has closed."""
    traced = run.should_trace(log.count(kind))
    run.tracer.enabled = traced
    with meter.measure(sink, port, traced):
        t0 = time.perf_counter()
        with run.tracer.span("op", kind):
            report = run_cli(run, argv)
        wall = time.perf_counter() - t0
    run.tracer.enabled = False
    if traced:
        meter.totals["changed_rows"] += changed_rows
        meter.totals["changed_bytes"] += changed_bytes
        meter.totals["skipped_indexes"] += len((report or {}).get("skipped", []))
    return report, wall, traced


def sync_incremental(run: Run, port: int) -> dict:
    """Set-up: N_SETUPS x (fresh session + default-flag full sync with the ES
    mirror and alias swap). Timed: small CDC batches, each one default-flag
    incremental CLI run with the mirror."""
    src, sink = os.path.join(run.work, "src"), os.path.join(run.work, "sink")
    t0 = time.perf_counter()
    corpus = SyncCorpus(run.seed, SYNC_DOCS, SYNC_INDEXES)
    corpus.write(src)
    run.sizes.update(gen_s=time.perf_counter() - t0, docs=len(corpus.id),
                     source_mb=os.path.getsize(os.path.join(src, "events.parquet")) / 2**20)
    log, meter = OpLog(), SinkMeter()
    argv = ["--source", src, "--sink-dir", sink, "--es-nodes", f"127.0.0.1:{port}"]
    live = sum(len(d) for d in corpus.live().values())
    for _ in range(N_SETUPS):
        with Window() as win:
            t0 = time.perf_counter()
            spark = run.new_session()
            run.tracer.bind(spark, os.path.join(src, "events.parquet"),
                            os.path.getsize(os.path.join(src, "events.parquet")))
            report, wall, traced = _sync_op(
                run, log, meter, "full", argv + ["--full-sync"], sink, port,
                live, corpus.live_bytes())
            setup_wall = time.perf_counter() - t0
        run.add_setup(setup_wall, win.scale)
        log.add("full", wall, win.scale, traced)
        check_sync(run, corpus, sink, port, report, full=True)
    log.extra["space_amp"] = _published_bytes(sink) / corpus.live_bytes()
    amp_written = amp_changed = 0
    deadline = time.perf_counter() + run.seconds
    kind = "small"
    while kind:
        stats = corpus.apply_batch(
            kind, SMALL_SHARE if kind == "small" else LARGE_SHARE,
            datetime.now(), new_index=kind == "large", drift=kind == "large")
        corpus.write(src)
        before = inode_snapshot(sink)
        with Window() as win:
            report, wall, traced = _sync_op(run, log, meter, kind, argv, sink, port,
                                            stats.changed_rows, stats.changed_bytes)
        log.add(kind, wall, win.scale, traced)
        after = inode_snapshot(sink)
        amp_written += sum(size for k, (_, size) in after.items() if k not in before)
        amp_changed += stats.changed_bytes
        check_sync(run, corpus, sink, port, report, full=False)
        if time.perf_counter() < deadline or log.count("small") < MIN_SMALL:
            kind = "small"
        else:
            kind = "large" if run.trace and not log.count("large") else None
    log.extra["write_amp"] = amp_written / max(1, amp_changed)
    run.sizes["docs_end"] = len(corpus.id)
    return {"primary": "small", "log": log, "meter": meter,
            "named": {"full_sync_s": (log.median("full", None), "s"),
                      "space_amp": (log.extra["space_amp"], "ratio"),
                      "incr_small_s": (log.median("small", None), "s"),
                      "incr_large_s": (log.median("large", None), "s"),
                      "incr_large_n": (log.count("large"), "count"),
                      "incr_write_amp": (log.extra["write_amp"], "ratio")}}


# -- query mix ----------------------------------------------------------------

def _release(spark) -> None:
    """Drop cached tables and persisted RDDs so no pass reuses another's."""
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    ids = sc.getPersistentRDDs().keys().toList()
    for i in range(ids.size()):
        sc.unpersistRDD(ids.apply(i), False)


def _oracle_signatures(root: str, data: str):
    """DuckDB oracle signature of every query in the mix, and the signature
    function itself, both from ``scripts/selfcheck.py``."""
    import importlib.util

    import duckdb

    from prefect_flow_arc_indexer_spark.plans import all_queries
    from prefect_flow_arc_indexer_spark.sources.parquet import TABLES

    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(root, "scripts", "selfcheck.py"))
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    reg = all_queries()
    out = {}
    for name in QUERIES:
        res = con.execute(reg[name].oracle)
        out[name] = selfcheck.frame_signature(
            [d[0] for d in res.description], res.fetchall())
    con.close()
    return out, selfcheck.frame_signature


def _query_pass(run: Run, data: str, order: list[str], signature=None,
                oracle=None) -> float:
    """One pass over the mix; returns the summed query walls. With
    ``signature`` the results are collected and compared with ``oracle``;
    otherwise each query runs through the ``noop`` sink."""
    from prefect_flow_arc_indexer_spark.plans import all_queries

    reg, spark, tr = all_queries(), run.spark, run.tracer
    total = 0.0
    for name in order:
        _release(spark)
        module = reg[name].builder.__module__.rsplit(".", 1)[-1]
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("plans.build", module):
                df = reg[name].builder(spark, data)
            if signature is not None:
                rows = [tuple(r) for r in df.collect()]
            else:
                if tr.enabled:
                    with tr.span("plans.plan", module):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("plans.exec", module):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - a raise is a failed query
            run.fail(f"{name} raised {type(exc).__name__}: {exc}")
            continue
        total += time.perf_counter() - t0
        if signature is not None and signature(df.columns, rows) != oracle[name]:
            run.fail(f"{name} differs from its oracle")
    return total


def check_query_data(run: Run, data: str) -> None:
    """The copied tables must match their recorded SHA-256 sums."""
    with open(os.path.join(data, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    for name, want in sums.items():
        with open(os.path.join(data, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                run.fail(f"query table {name} differs from its recorded sum")
    run.sizes["rows"] = {name.split(".")[0]: pq.ParquetFile(
        os.path.join(data, name)).metadata.num_rows for name in sorted(sums)}


def query_mix(run: Run, port: int) -> dict:
    data = QUERY_DATA
    t0 = time.perf_counter()
    check_query_data(run, data)
    oracle, signature = _oracle_signatures(run.root, data)
    run.sizes["gen_s"] = time.perf_counter() - t0
    rng = random.Random(run.seed)
    for i in range(N_SETUPS):
        # the first warm pass collects every result for the oracle check;
        # the others run the timed passes' noop form
        with Window() as win:
            t0 = time.perf_counter()
            run.new_session()
            if i == 0:
                _query_pass(run, data, list(QUERIES), signature, oracle)
            else:
                _query_pass(run, data, list(QUERIES))
            setup_wall = time.perf_counter() - t0
        run.add_setup(setup_wall, win.scale)
    run.tracer.bind(run.spark)
    log = OpLog()
    deadline = time.perf_counter() + run.seconds
    # a traced run needs a traced pass after the first and an untraced one,
    # for the overhead
    while (time.perf_counter() < deadline
           or log.count("pass") < MIN_PASSES + run.trace):
        order = list(QUERIES)
        rng.shuffle(order)
        traced = run.should_trace(log.count("pass"))
        run.tracer.enabled = traced
        with Window() as win, run.tracer.span("op", "pass"):
            wall = _query_pass(run, data, order)
        run.tracer.enabled = False
        log.add("pass", wall, win.scale, traced)
    return {"primary": "pass", "log": log, "meter": None,
            "named": {"query_mix_s": (log.median("pass", None), "s")}}


WORKLOADS = {"sync_incremental": sync_incremental, "query_mix": query_mix}


def unit_of(metric: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if "bytes" in metric:
        return "bytes"
    if metric.endswith(("_amp", "coverage", "per_changed")):
        return "ratio"
    return "count"


def layer_metrics(run: Run, result: dict) -> dict[str, float]:
    """Per-layer figures from the traced operations, per traced operation."""
    spans = run.tracer.spans
    selfs = self_times(spans)
    log, meter = result["log"], result["meter"]
    n_ops = max(1, sum(len(v) for v in log.traced.values()))
    m: dict[str, float] = {}

    def total(pred, value) -> float:
        return sum(value(s, st) for s, st in zip(spans, selfs) if pred(s))

    def dur(*names):
        return total(lambda s: s.name in names, lambda s, st: s.dur) / n_ops

    def self_s(*names):
        return total(lambda s: s.name in names, lambda s, st: st) / n_ops

    def count(*names):
        return total(lambda s: s.name in names, lambda s, st: 1) / n_ops

    def counter(key, *names):
        return total(lambda s: not names or s.name in names,
                     lambda s, st: s.counters[key]) / n_ops

    def inclusive(key, name):
        """``key`` summed over ``name`` spans and everything under them."""
        roots = {i for i, s in enumerate(spans) if s.name == name}
        n = 0.0
        for i, s in enumerate(spans):
            j = i
            while j is not None and j not in roots:
                j = spans[j].parent
            if j is not None:
                n += s.counters[key]
        return n / n_ops

    m["session.start_s"] = statistics.median(run.session_s)
    m["sources.bytes_read"] = counter("source_bytes")
    m["sources.scans"] = counter("source_scans")
    m["runner.self_s"] = self_s("runner", "runner.incremental")
    m["runner.sql_executions"] = counter("sql_executions", "runner", "runner.incremental")
    m["sinks.write_s"] = dur("sinks.write")
    m["sinks.write_calls"] = count("sinks.write")
    m["sinks.publish_s"] = dur("sinks.publish")
    m["sinks.read_alias_s"] = dur("sinks.read_alias")
    m["bucketed.merge_s"] = dur("bucketed.merge")
    for key in ("upsert", "delete", "swap", "count"):
        m[f"es_sink.{key}_s"] = dur(f"es_sink.{key}")
    m["cli.self_s"] = self_s("cli")
    t = (meter or SinkMeter()).totals
    m["runner.skipped_indexes"] = t["skipped_indexes"] / n_ops
    m["sinks.bytes_written"] = t["bytes_written"] / n_ops
    m["sinks.files_written"] = t["files_written"] / n_ops
    m["sinks.space_amp"] = log.extra.get("space_amp", 0.0)
    m["sinks.write_amp"] = (t["bytes_written"] / t["changed_bytes"]
                            if t["changed_bytes"] else 0.0)
    m["bucketed.touched_buckets"] = t["touched_buckets"] / n_ops
    m["bucketed.linked_files"] = t["linked_files"] / n_ops
    m["es_sink.requests"] = t["requests"] / n_ops
    m["es_sink.bytes_shipped"] = t["bulk_bytes"] / n_ops
    m["es_sink.docs_shipped"] = t["docs_shipped"] / n_ops
    m["es_sink.shipped_per_changed"] = (
        t["docs_shipped"] / t["changed_rows"] if t["changed_rows"] else 0.0)
    m["es_sink.retries"] = t["rejected"] / n_ops
    m["plans.build_s"] = dur("plans.build")
    m["plans.build_sql_executions"] = inclusive("sql_executions", "plans.build")
    m["plans.plan_s"] = dur("plans.plan")
    m["plans.exec_s"] = dur("plans.exec")
    for mod in sorted(OPERATOR_MODULES):
        for phase in ("build", "exec"):
            m[f"operators.{mod}.{phase}_s"] = total(
                lambda s: s.name == f"plans.{phase}" and s.tag == mod,
                lambda s, st: s.dur) / n_ops
    m["spark.shuffle_bytes"] = counter("shuffle_bytes")
    m["spark.spill_bytes"] = counter("spill_bytes")
    m["spark.task_s"] = counter("task_s")
    m["spark.input_bytes"] = counter("input_bytes")
    m["trace.coverage"] = coverage(spans)
    # the first op of a kind is traced and may pay one-off costs, so the
    # overhead compares the later traced ops with the untraced ones
    kind = result["primary"]
    later = log.traced.get(kind, [])[1:]
    m["trace.overhead_s"] = (statistics.median(later) - log.median(kind)
                             if later and log.walls.get(kind) else 0.0)
    m["workload.large_op_s"] = log.median("large", None)
    return m


# operator modules that define the queries in the mix
OPERATOR_MODULES = ("actions", "analytics", "indexer", "similarity",
                    "text_analysis", "textprep")
