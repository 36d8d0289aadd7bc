"""Tests of the benchmark's own machinery (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import threading
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402
from spans import Span  # noqa: E402


def _staged(tmp_path, name, seed):
    out = tmp_path / name
    paths = []
    gen.stage_catalog(seed, 0.002, str(out))
    paths += [str(out / f"{t}.parquet") for t in ("customer", "documents", "events")]
    base = gen.customers(seed, 500)
    for r, (snap, _) in enumerate(gen.sync_rounds(seed, base, 3)):
        gen.write(snap, str(out / f"round_{r}.parquet"))
        paths.append(str(out / f"round_{r}.parquet"))
    corpus = gen.documents(seed, 300)
    for b, (batch, _, _) in enumerate(gen.ingest_batches(seed, corpus, 2)):
        gen.write(batch, str(out / f"batch_{b}.parquet"))
        paths.append(str(out / f"batch_{b}.parquet"))
    return {os.path.basename(p): gen.digest(p) for p in paths}


def test_generators_are_deterministic(tmp_path):
    a = _staged(tmp_path, "a", 7)
    assert a == _staged(tmp_path, "b", 7)
    other = _staged(tmp_path, "c", 8)
    assert all(a[k] != other[k] for k in a)


def test_sync_rounds_count_planted_changes():
    base = gen.customers(3, 2000)
    prev = {k: v for k, v in zip(base.column("c_custkey").to_pylist(),
                                 base.column("c_acctbal").to_pylist())}
    for snap, counts in gen.sync_rounds(3, base, 4):
        cur = dict(zip(snap.column("c_custkey").to_pylist(),
                       snap.column("c_acctbal").to_pylist()))
        assert counts["NEW"] == len(cur.keys() - prev.keys())
        assert counts["DELETED"] == len(prev.keys() - cur.keys())
        assert counts["UPDATED"] == sum(
            1 for k in cur.keys() & prev.keys() if cur[k] != prev[k]
        )
        prev = cur


def test_ingest_batches_plant_copies_of_corpus_docs():
    corpus = gen.documents(5, 400)
    texts = set(corpus.column("text").to_pylist())
    words = [t.split() for t in texts]
    for batch, exact, edited in gen.ingest_batches(5, corpus, 3):
        assert batch.num_rows == gen.BATCH_SIZE
        assert len(exact) == len(edited) == gen.BATCH_COPIES // 2
        rows = dict(zip(batch.column("doc_id").to_pylist(),
                        batch.column("text").to_pylist()))
        assert all(rows[i] in texts for i in exact)
        for i in edited:
            got = rows[i].split()
            assert any(
                len(t) == len(got) and sum(a != b for a, b in zip(t, got)) <= 1
                for t in words
            )


@pytest.mark.parametrize(
    "n, p",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
     (100, 90), (199, 90), (200, 95), (1000, 99), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert spans.tail_percentile(n) == p


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert spans.percentile(xs, 50) == 2.5
    assert spans.percentile(xs, 0) == 1.0
    assert spans.percentile(xs, 100) == 4.0


def _span(sid, parent, t0, t1, j0=0, j1=0, layer="l", name="f"):
    return Span(sid, layer, name, parent, t0, j0, t1, j1)


def test_self_time_nested_children():
    s = [_span(0, None, 0, 10), _span(1, 0, 1, 3), _span(2, 0, 5, 6),
         _span(3, 1, 1.5, 2.5)]
    got = spans.self_times(s)
    assert got[0] == pytest.approx(10 - 3)
    assert got[1] == pytest.approx(2 - 1)
    assert got[3] == pytest.approx(1)


def test_self_time_concurrent_children_counted_once():
    # two overlapping children on overlap threads cover [2, 7]
    s = [_span(0, None, 0, 10), _span(1, 0, 2, 6), _span(2, 0, 3, 7)]
    assert spans.self_times(s)[0] == pytest.approx(5)


def test_self_time_child_clipped_to_parent():
    s = [_span(0, None, 0, 4), _span(1, 0, 3, 9)]
    assert spans.self_times(s)[0] == pytest.approx(3)


def test_jobs_go_to_innermost_span_by_id_interval():
    s = [
        _span(0, None, 0, 10, 0, 10),
        _span(1, 0, 1, 4, 2, 5),
        _span(2, 1, 2, 3, 3, 4),
        _span(3, 0, 5, 8, 6, 8),
        _span(4, 0, 6, 7, 7, 7),  # ran no job
    ]
    got = spans.attribute_jobs(s, range(12))
    assert got == {0: 0, 1: 0, 2: 1, 3: 2, 4: 1, 5: 0, 6: 3, 7: 3,
                   8: 0, 9: 0}


def test_concurrent_siblings_later_one_takes_shared_jobs():
    s = [_span(0, None, 0, 10, 0, 6), _span(1, 0, 1, 5, 1, 4),
         _span(2, 0, 2, 6, 2, 5)]
    got = spans.attribute_jobs(s, range(6))
    assert got == {0: 0, 1: 1, 2: 2, 3: 2, 4: 2, 5: 0}


def test_layer_metrics_inclusive_jobs_exclusive_self():
    s = [
        _span(0, None, 0, 10, 0, 4, layer="workflow", name="full_migration"),
        _span(1, 0, 1, 4, 1, 3, layer="operators.infer", name="infer_schema"),
    ]
    jobs = {
        j: spans.Job(j, "parquet at x" if j == 1 else "collect at y.py:3",
                     tasks=2, executor_run_s=0.5)
        for j in range(5)
    }
    out, census = spans.layer_metrics(s, jobs, ["workflow", "operators.infer"])
    assert out["workflow.jobs"] == 4 and out["operators.infer.jobs"] == 2
    assert out["workflow.tasks"] == 8
    assert out["workflow.self_s"] == pytest.approx(7)
    assert out["workflow.busy_s"] == pytest.approx(10)
    assert census["operators.infer"] == {
        "schema": 1, "aqe": 0, "checkpoint": 0, "save": 0, "collect": 1,
        "other": 0,
    }


@pytest.mark.parametrize(
    "name, in_sql, cls",
    [
        ("parquet at NativeMethodAccessorImpl.java:0", False, "schema"),
        ("parquet at NativeMethodAccessorImpl.java:0", True, "save"),
        ("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
         False, "aqe"),
        ("save at NativeMethodAccessorImpl.java:0", True, "save"),
        ("localCheckpoint at NativeMethodAccessorImpl.java:0", False,
         "checkpoint"),
        ("collect at /x/operators/cdc.py:246", False, "collect"),
        ("runJob at SparkHadoopWriter.scala:83", False, "other"),
    ],
)
def test_census_classes(name, in_sql, cls):
    assert spans.job_class(name, in_sql) == cls


def test_install_rebinds_imported_names_and_restores():
    pkg = "fakepkg_perfbench"
    layer = types.ModuleType(f"{pkg}.layer")
    exec("def work(x):\n    return x + 1\ndef _private():\n    return 0\n",
         layer.__dict__)
    layer.work.__module__ = layer.__name__
    user = types.ModuleType(f"{pkg}.user")
    user.work = layer.work
    sys.modules.update({layer.__name__: layer, user.__name__: user})
    try:
        ids = iter(range(100))
        t = spans.Tracer(lambda: next(ids))
        restore = t.install({"layer": layer}, pkg)
        assert user.work(1) == 2 and layer.work(2) == 3
        assert [s.name for s in t.spans] == ["work", "work"]
        assert layer._private() == 0 and len(t.spans) == 2
        restore()
        assert user.work is layer.work and not hasattr(layer.work, "__wrapped__")
    finally:
        for m in (layer, user):
            sys.modules.pop(m.__name__)


def test_thread_spans_hang_under_client_span():
    t = spans.Tracer(lambda: 0)
    outer = t.open("hadoop_fs", "run_concurrent")
    th = threading.Thread(target=lambda: t.close(t.open("x", "thunk")))
    th.start()
    th.join(10)
    assert not th.is_alive()
    t.close(outer)
    assert t.spans[1].parent == outer.sid
