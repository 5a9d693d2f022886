import threading
import time

import pytest

from nrtbench import layers, trace
from nrtbench.eventlog import EventLog, Job, Task
from nrtbench.trace import Span


def spans_of(*rows):
    """rows: (id, parent, name, start, end)"""
    out = {i: Span(i, p, n, 0, s, e) for i, p, n, s, e in rows}
    for s in out.values():
        if s.parent is not None:
            out[s.parent].children.append(s.id)
    return out


def test_interval_helpers():
    assert trace.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert trace.length([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert trace.subtract([(0, 1)], []) == [(0, 1)]
    assert trace.clip([(0, 5), (6, 9)], 1, 7) == [(1, 5), (6, 7)]


def test_self_time_subtracts_overlapping_children():
    # a load (0..10) holding a ledger open (1..4, waiting on a lock, its
    # append child 3..4) and a merge (5..9); a second thread's merge
    # overlaps the parent but not as its child
    s = spans_of(
        (1, None, "incremental.load_entity", 0, 10),
        (2, 1, "config.open_watermark", 1, 4),
        (3, 2, "tables.append", 3, 4),
        (4, 1, "tables.merge", 5, 9),
        (5, 1, "tables.get_commit", 8, 9.5),
    )
    assert trace.self_time(s[1], s) == pytest.approx(10 - 3 - 4.5)
    # the open span's self time is its lock wait: 1..3
    assert trace.self_time(s[2], s) == pytest.approx(2)
    assert [x.id for x in trace.descendants(s[2], s)] == [3]
    assert trace.ancestor_named(s[3], s, "incremental.load_entity") is s[1]


def test_wall_shares_split_parallel_spans_and_sum_to_wall():
    # two loads run side by side on two threads under one pipeline call
    s = spans_of(
        (1, None, "incremental.run_pipeline", 0, 10),
        (2, 1, "incremental.load_entity", 1, 9),
        (3, 2, "tables.merge", 2, 6),
        (4, 1, "incremental.load_entity", 1, 5),
        (5, 4, "config.open_watermark", 1, 5),
    )
    shares = trace.wall_shares(s, -1, 11)
    assert sum(shares.values()) == pytest.approx(12)
    assert shares[""] == pytest.approx(2)  # before and after the call
    # 1..2: load 2 self + open; 2..5: merge + open; 5..6: merge alone
    assert shares["config"] == pytest.approx(0.5 + 1.5)
    assert shares["tables"] == pytest.approx(1.5 + 1)
    assert shares["incremental"] == pytest.approx(2 + 0.5 + 3)


def test_tail_is_the_highest_percentile_with_ten_beyond():
    xs = list(range(1, 41))  # 40 samples
    assert trace.tail(xs) == (30, 75.0, 40)
    assert trace.tail(list(range(100))) == (89, 90.0, 100)
    value, pct, n = trace.tail([5.0] * 11)
    assert (value, n) == (5.0, 11) and pct == pytest.approx(100 / 11)
    # too few samples: the maximum, flagged as percentile 100
    assert trace.tail([3, 1, 2]) == (3, 100.0, 3)
    with pytest.raises(ValueError):
        trace.tail([])


def test_median_and_geomean():
    assert trace.median([3, 1, 2]) == 2
    assert trace.median([4, 1, 2, 3]) == 2.5
    assert trace.geomean([1, 4, 16]) == pytest.approx(4)


def test_tracer_wraps_nests_per_thread_and_unwraps():
    class Table:
        def merge(self, x):
            return self.read(x) + 1

        def read(self, x):
            time.sleep(0.01)
            return x

    t = trace.Tracer()
    t.wrap(Table, "merge", "tables.merge")
    t.wrap(Table, "read", lambda args, kwargs: "tables.read_version" if args[1] else "tables.read")
    threads = [threading.Thread(target=Table().merge, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=10)
        assert not th.is_alive()
    merges = [s for s in t.spans.values() if s.name == "tables.merge"]
    reads = [s for s in t.spans.values() if s.name.startswith("tables.read")]
    assert len(merges) == 4 and len(reads) == 4
    for r in reads:
        parent = t.spans[r.parent]
        assert parent.name == "tables.merge" and parent.thread == r.thread
        assert parent.start <= r.start <= r.end <= parent.end
    assert {r.name for r in reads} == {"tables.read", "tables.read_version"}
    t.unwrap_all()
    assert Table.merge.__qualname__.endswith("Table.merge")
    assert Table().merge(1) == 2 and len(t.spans) == 8


def test_layers_attribute_jobs_and_wait_to_spans():
    s = spans_of(
        (1, None, "incremental.load_entity", 0, 10),
        (2, 1, "tables.merge", 2, 6),
    )
    # the merge's job ran tasks 3..4 and 3.5..5: its wait is 2..3 + 5..6
    tasks = [Task(0, 0, 3, 4, 1, 0.5, 0, 10, 0), Task(0, 0, 3.5, 5, 1.5, 1, 0.1, 0, 0.2)]
    log = EventLog({0: Job(0, "2", 2.5, [0], tasks)}, tasks)
    out = layers.compute(s, [(0, 10)], log, 0.0, {"threads": 1.0}, 0.01)
    assert out["tables.self_s"] == pytest.approx(4)
    assert out["tables.wait_s"] == pytest.approx(2)
    assert out["tables.jobs"] == 1 and out["tables.tasks"] == 2
    assert out["tables.exec_s"] == pytest.approx(2.5)
    assert out["incremental.self_s"] == pytest.approx(6)
    assert out["incremental.jobs_per_load"] == 1
    assert out["tables.merge_s"] == pytest.approx(4)
    assert out["spark.jobs"] == 1 and out["spark.executor_cpu_s"] == pytest.approx(1.5)
    assert out["spark.driver_only_s"] == pytest.approx(10 - 2)
    shares = sum(out[f"{layer}.wall_share_s"] for layer in ("incremental", "tables"))
    assert shares + out["trace.unattributed_s"] == pytest.approx(10)
