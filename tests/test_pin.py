"""session.pin / session.unpin — the engine's one pin primitive.

Covers the idempotence probe (a stored checkpoint is pinned, an
unstored list-backed frame is not), release by the frame's OWN RDD id
(never another frame's pin landing in the same window), and a source
guard keeping every checkpoint call inside session.py."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import Row

from laygo_python_spark.operators import dedup
from laygo_python_spark.session import pin, unpin


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in dict(spark.sparkContext._jsc.getPersistentRDDs())}


def test_pin_probe_is_exact(spark):
    """A list-backed ``createDataFrame`` is a ``LogicalRDD`` over an RDD
    that is never stored: ``pin`` must checkpoint it (exactly one new
    persistent RDD), and pinning the result again must add none."""
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    before = _persistent_ids(spark)
    pinned = pin(df)
    added = _persistent_ids(spark) - before
    assert len(added) == 1
    assert pinned._jdf.queryExecution().analyzed().rdd().id() in added

    before = _persistent_ids(spark)
    again = pin(pinned)
    assert again is pinned
    assert _persistent_ids(spark) - before == set()
    assert sorted(r.k for r in again.collect()) == [1, 2, 3]

    unpin(pinned)
    assert not (added & _persistent_ids(spark))


@pytest.fixture
def bystanders(spark, monkeypatch):
    """Every checkpoint the engine takes is immediately followed by
    another "thread's" pin — the interleaving concurrent driver threads
    (``concurrent_actions``, ``Pipeline.branch``) produce at random,
    made deterministic. Yields the list of bystander frames."""
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    pinned: list = []

    def checkpoint_then_bystander(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        pinned.append(real(spark.range(40), eager=True))
        return out

    monkeypatch.setattr(cls, "localCheckpoint", checkpoint_then_bystander)
    yield pinned
    monkeypatch.undo()
    unpin(*pinned)


def _assert_alive(spark, frames) -> None:
    assert frames, "the engine took no checkpoint"
    live = _persistent_ids(spark)
    for f in frames:
        assert f._jdf.queryExecution().analyzed().rdd().id() in live
        assert f.count() == 40


def test_release_spares_concurrent_pins(spark, bystanders):
    """Releasing an operator's pin frees that pin only: a bystander
    pinned inside the operator's checkpoint window stays registered
    and still counts."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again today"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again today"),
            Row(doc_id=3, text="the quick brown fox jumps over the lazy dog again tonight"),
            Row(doc_id=4, text="completely unrelated content about spark query engines"),
        ]
    )
    sim = dedup.simhash_near_dups(docs)
    sim.collect()
    sim._release_pin()
    _assert_alive(spark, bystanders)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_id_a", "doc_id_b"]
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    for threshold in (1_000_000, 0):  # driver union-find, distributed rounds
        got = dedup.connected_components(edges, driver_threshold=threshold).collect()
        assert {r.node: r.cluster for r in got} == expected
        _assert_alive(spark, bystanders)


def test_checkpoints_only_in_session():
    """The pin decision lives in one module: no engine file outside
    ``session.py`` calls ``localCheckpoint(`` or walks
    ``getPersistentRDDs``. The single exception is coreset's lazy
    (``eager=False``) lineage checkpoint, which is never released."""
    root = pathlib.Path(__file__).resolve().parents[1] / "laygo_python_spark"
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "session.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"localCheckpoint\(|getPersistentRDDs", line):
                hits.append((rel, n, line.strip()))
    allowed = [h for h in hits if h[0] == "operators/coreset.py" and "localCheckpoint(eager=False)" in h[2]]
    assert len(allowed) == 1, hits
    assert [h for h in hits if h not in allowed] == []
