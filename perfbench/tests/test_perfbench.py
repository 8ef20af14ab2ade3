"""Tests of the benchmark's own parts. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import subprocess
import sys
import threading
import time
from datetime import datetime

import pytest

import hostspeed
from fake_es import serve
from gen import SyncCorpus, fingerprint
from spans import Span, coverage, self_times


# -- generator -----------------------------------------------------------------

def _corpus_after_batches(seed: int) -> SyncCorpus:
    c = SyncCorpus(seed, 2_000, 5)
    stamp = datetime(2030, 1, 1)
    c.apply_batch("small", 0.01, stamp)
    c.apply_batch("large", 0.10, stamp, new_index=True, drift=True)
    return c


def test_generator_is_deterministic_per_seed():
    a, b = _corpus_after_batches(7), _corpus_after_batches(7)
    assert a.table().equals(b.table())
    assert a.live() == b.live()
    assert not _corpus_after_batches(8).table().equals(a.table())


def test_generator_truth_follows_the_source_rules():
    c = _corpus_after_batches(3)
    t = c.table().to_pydict()
    live = c.live()
    assert "or-new00" in live and live["or-new00"]
    n_live = sum(1 for i in t["event_id"] if i % 13)
    assert sum(len(d) for d in live.values()) == n_live
    assert len(set(t["event_id"])) == len(t["event_id"])
    # the drifted index carries the bumped schema_name on every live doc
    drifted = c.indexes[c.n_original - 1]
    assert all('"schema_name":"%s_v2"' % drifted in d
               for d in live[drifted].values())


def test_small_batches_hit_the_same_indexes():
    c = SyncCorpus(11, 4_000, 4)
    hit = []
    for _ in range(6):
        before = c.table().column("ts").to_pylist()
        c.apply_batch("small", 0.002, datetime(2030, 1, 1))
        after = c.table()
        touched = {after.column("event_type")[i].as_py()
                   for i, ts in enumerate(after.column("ts").to_pylist())
                   if i >= len(before) or ts != before[i]}
        hit.append(touched)
    # a traced batch and an untraced one touch the same indexes
    assert all(h == {"or-00", "or-02"} for h in hit)


# -- fake Elasticsearch --------------------------------------------------------

@pytest.fixture()
def es():
    server = serve(threads=2)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"127.0.0.1:{server.server_address[1]}"
    server.shutdown()
    server.server_close()
    thread.join()


def _bulk(node: str, lines: list[str]) -> None:
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import _post_bulk

    _post_bulk(f"http://{node}/_bulk", ("\n".join(lines) + "\n").encode(), 10)


def _index(name: str, doc_id: str, doc: str) -> list[str]:
    return ['{"index": {"_index": "%s", "_id": "%s"}}' % (name, doc_id), doc]


def test_fake_es_alias_swap_and_count_after_delete(es):
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig, count_index, get_alias_indexes, swap_alias)

    cfg = EsSinkConfig(nodes=es, timeout_s=10)
    _bulk(es, _index("a_1", "1", '{"x":1}') + _index("a_1", "2", '{"x":2}'))
    assert swap_alias(cfg, "a", "a_1") == []
    assert count_index(cfg, "a") == 2
    _bulk(es, _index("a_2", "1", '{"x":1}') + _index("a_2", "3", '{"x":3}')
          + _index("a_2", "4", '{"x":4}'))
    # the swap flips the alias in one call and deletes the old index
    assert swap_alias(cfg, "a", "a_2") == ["a_1"]
    assert get_alias_indexes(cfg, "a") == ["a_2"]
    with pytest.raises(OSError):
        count_index(cfg, "a_1", refresh=False)
    # writes through the alias land in the index it points at
    _bulk(es, ['{"delete": {"_index": "a", "_id": "3"}}',
               '{"delete": {"_index": "a", "_id": "missing"}}'])
    assert count_index(cfg, "a") == 2
    from workloads import es_get

    port = int(es.rsplit(":", 1)[1])
    fp = es_get(port, "/_bench/fingerprint/a")
    assert (fp["count"], fp["sum"]) == fingerprint(
        [("1", '{"x":1}'), ("4", '{"x":4}')])
    stats = es_get(port, "/_bench/stats")
    assert stats["docs_indexed"] == 5 and stats["docs_deleted"] == 2
    assert stats["rejected"] == 0


# -- host-speed scaling -----------------------------------------------------------

def test_window_scales_by_the_mean_of_the_two_probes(monkeypatch):
    reads = iter([0.1, 0.3])
    monkeypatch.setattr(hostspeed, "probe", lambda: next(reads))
    with hostspeed.Window() as win:
        pass
    # a host twice as slow as the reference halves the scaled wall
    assert win.scale == pytest.approx(hostspeed.REF_PROBE_S / 0.2)


def test_children_cpu_counts_a_busy_child():
    before = hostspeed.children_cpu_s()
    # the child spins for 0.3 CPU seconds, then idles until it is killed
    busy = subprocess.Popen([sys.executable, "-c",
                             "import time\nt = time.process_time()\n"
                             "while time.process_time() - t < 0.3: pass\n"
                             "time.sleep(5)"])
    try:
        for _ in range(50):
            if hostspeed.children_cpu_s() - before >= 0.25:
                break
            time.sleep(0.1)
        assert hostspeed.children_cpu_s() - before >= 0.25
    finally:
        busy.kill()
        busy.wait()


# -- span self times -------------------------------------------------------------

def _span(name, start, end, parent=None):
    s = Span(name, start, parent)
    s.end = end
    return s


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 6.0, parent=0),  # overlaps a: the union counts once
        _span("a.child", 2.0, 3.0, parent=1),
        _span("c", 9.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0])
    # self times of a nested chain add back up to the root's wall
    chain = [_span("op", 0, 8), _span("x", 1, 7, 0), _span("y", 2, 3, 1)]
    assert sum(self_times(chain)) == pytest.approx(8.0)


def test_coverage_counts_the_cli_wrapper_as_unaccounted():
    op = [_span("op", 0, 10), _span("cli", 0.5, 10, 0),
          _span("runner", 1, 7, 1), _span("sinks.write", 2, 5, 2),
          _span("es_sink.upsert", 7, 9.5, 1)]
    # op self 0.5 and cli self 1.0 are missed; nested layers count once
    assert coverage(op) == pytest.approx(0.85)
    # a layer wrapper that stops firing leaves its time to the cli span
    assert coverage(op[:2] + [_span("es_sink.upsert", 7, 9.5, 1)]) == pytest.approx(0.25)
    assert coverage([]) == 0.0
