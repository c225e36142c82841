"""Trace and generator checks for the benchmark.

Run from the checkout root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer  # noqa: E402

TINY = gen.Sizes(customer=60, supplier=5, part=80, orders=600, lineitem=2400,
                 events=2000, documents=120, embeddings=120, copies=2)
# one pure-DataFrame query, one behind a driver gate, one mapInPandas lane
OPS = ("pricing_summary", "dsir_resample", "image_neardup")


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("corpus"))
    gen.generate(ROOT, work, 3, TINY)
    return os.path.join(work, "corpus")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from dataengineering_spark.session import get_spark

    s = get_spark("perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_generator_is_seeded(tmp_path, corpus):
    again = str(tmp_path / "again")
    other = str(tmp_path / "other")
    gen.generate(ROOT, again, 3, TINY)
    gen.generate(ROOT, other, 4, TINY)
    assert _digest(os.path.join(again, "corpus")) == _digest(corpus)
    assert _digest(os.path.join(other, "corpus")) != _digest(corpus)


def _assert_nested(tracer: Tracer) -> None:
    by_id = {s.id: s for s in tracer.spans}
    for s in tracer.spans:
        assert s.end >= s.start
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start and s.end <= p.end, (p.name, s.name)


def test_op_spans_reconcile_and_nest(spark, corpus):
    failures: list = []
    W.verify_batch(spark, corpus, OPS, failures)  # warm the code paths
    assert not failures, failures
    tracer = Tracer(True, spark.sparkContext)
    W.reset_caches(spark)
    with tracer.span("pass"):
        lat = W.batch_pass(spark, corpus, OPS, tracer, failures)
    tracer.collect_counters()
    assert not failures and [n for n, _ in lat] == list(OPS)
    _assert_nested(tracer)
    ops = [s for s in tracer.spans if s.name == "op"]
    assert [s.attrs["op"] for s in ops] == list(OPS)
    for op in ops:
        kids = tracer.children(op)
        assert [k.name for k in kids] == ["build", "plan", "execute"]
        parts = sum(k.dur for k in kids)
        assert abs(op.dur - parts) <= 0.10 * op.dur, (op.attrs["op"], op.dur, parts)
        execute = kids[2]
        assert execute.attrs["jobs"] >= 1 and execute.attrs["tasks"] >= 1
        assert execute.attrs["task_s"] > 0
    assert tracer.self_time(ops[0]) == pytest.approx(
        ops[0].dur - sum(k.dur for k in tracer.children(ops[0]))
    )


def test_sync_spans_nest_and_drain_checks(spark, corpus, tmp_path):
    work = str(tmp_path)
    src = os.path.join(work, "source")
    W.write_sync_source(spark, corpus, src)
    tracer = Tracer(True, spark.sparkContext)
    drainer = W.SyncDrain(spark, work, src, tracer)
    con = drainer.oracle()
    with tracer.span("pass"):
        d = drainer.drain()
    tracer.collect_counters()
    assert drainer.check(d, con) == []
    assert len(d["batches"]) == len(d["ranges"]) >= 1
    _assert_nested(tracer)
    by_id = {s.id: s for s in tracer.spans}
    parent_of = {s.name: by_id[s.parent].name for s in tracer.spans if s.parent is not None}
    assert parent_of["batch"] == "pass"
    assert parent_of["runner.negotiate"] in ("batch", "final_probe")
    assert parent_of["runner.transform_sink"] == "batch"
    assert parent_of["io.write"] == "runner.transform_sink"
    assert parent_of["runner.commit"] == "batch"
    assert parent_of["io.dest_max"] == "runner.commit"
    assert parent_of["state.commit"] == "runner.commit"
    batches = [s for s in tracer.spans if s.name == "batch"]
    assert len(batches) == len(d["ranges"])
    writes = [s for s in tracer.spans if s.name == "io.write"]
    assert all(w.attrs["jobs"] >= 1 for w in writes)
