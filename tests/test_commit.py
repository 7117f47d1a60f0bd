"""Crash consistency of the persisted state, and the one-mechanism rule.

Every directory the engine persists commits through
``vmware_graph_spark/commit.py``. The ``crash_at`` fixture fails the
k-th filesystem step of a writer — an ``os.rename``, ``os.replace`` or
``shutil.rmtree`` call, or a ``DataFrameWriter.parquet`` call — and
:func:`each_crash` does so for every k until the writer runs clean.
After each crash the next reader must see the old state or the new
one, or raise ``commit.Unmarked``: never a partial state.

Not covered yet: ``IncrementalTable`` and ``stream_merge_into``.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter

from vmware_graph_spark import commit
from vmware_graph_spark.store.graph import US, GraphStore

ENGINE = Path(__file__).resolve().parent.parent / "vmware_graph_spark"
UNMARKED = "unmarked"


def test_only_commit_module_marks_or_swaps():
    """No engine file but ``commit.py`` names a marker file or renames
    a path, so every commit point stays in one place (no Spark)."""
    pat = re.compile(r"format\.json|_COMPLETE|(?<![A-Za-z0-9])_?os\.(rename|replace)\b")
    offenders = [
        f"{p.relative_to(ENGINE)}:{i}: {line.strip()}"
        for p in sorted(ENGINE.rglob("*.py"))
        if p != ENGINE / "commit.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert offenders == []


class Crash(Exception):
    """The injected fault."""


_STEPS = ((os, "rename"), (os, "replace"), (shutil, "rmtree"), (DataFrameWriter, "parquet"))


@pytest.fixture
def crash_at(monkeypatch):
    """``crash_at(k, op)`` runs ``op()`` with its k-th filesystem step
    raising :class:`Crash`; True if it crashed, False if ``op`` took
    fewer than k + 1 steps."""

    def run(k, op):
        steps = itertools.count()

        def failing(real):
            def step(*args, **kwargs):
                if next(steps) == k:
                    raise Crash(f"injected at step {k}")
                return real(*args, **kwargs)

            return step

        with monkeypatch.context() as m:
            for owner, name in _STEPS:
                m.setattr(owner, name, failing(getattr(owner, name)))
            try:
                op()
            except Crash:
                return True
        return False

    return run


def each_crash(crash_at, pristine, work, op, observe, allowed, new):
    """For k = 0, 1, …: restore ``work`` from ``pristine``, crash ``op``
    at step k, and assert ``observe()`` is in ``allowed``; the first k
    ``op`` survives must leave ``new``. Returns that step count."""
    for k in itertools.count():
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(pristine, work)
        crashed = crash_at(k, op)
        seen = observe()
        if not crashed:
            assert seen == new, f"clean run after {k} steps"
            return k
        assert any(seen == a for a in allowed), f"crash at step {k}: {seen!r}"


def _observe(read):
    try:
        return read()
    except commit.Unmarked:
        return UNMARKED


# -- graph snapshots -----------------------------------------------------------


def _graph(spark, hosts):
    """One vCenter, ``hosts`` hosts, one CONTROLLED_BY_VC edge each."""
    s = GraphStore(spark, checkpoint=False)
    s.upsert_nodes("Vcenterserver", spark.createDataFrame([("vc",)], "uid string"))
    s.upsert_nodes(
        "Vspherehost",
        spark.createDataFrame([(h, "vc") for h in hosts], "objid string, managedby string"),
    )
    s.add_edges(
        spark.createDataFrame(
            [("Vcenterserver", "vc", "CONTROLLED_BY_VC", "Vspherehost", h + US + "vc") for h in hosts],
            "src_label string, src_key string, rel_type string, dst_label string, dst_key string",
        )
    )
    return s


def _state(g: GraphStore):
    return (
        {lb: sorted(map(tuple, g.vertices(lb).collect())) for lb in g.labels()},
        sorted(map(tuple, g.edges().collect())),
    )


@pytest.fixture
def graphs(spark, tmp_path):
    """(old store, new store, old state, new state)."""
    old, new = _graph(spark, ["h1", "h2"]), _graph(spark, ["h2", "h3"])
    states = []
    for i, g in enumerate((old, new)):
        g.write(str(tmp_path / f"want{i}"))
        states.append(_state(GraphStore.read(spark, str(tmp_path / f"want{i}"))))
    assert states[0] != states[1]
    return old, new, *states


def test_graph_write_crash_is_old_new_or_unmarked(spark, tmp_path, crash_at, graphs):
    old, new, s_old, s_new = graphs
    pristine, work = tmp_path / "pristine", tmp_path / "work"
    old.write(str(pristine / "snap"))
    path = str(work / "snap")
    steps = each_crash(
        crash_at,
        pristine,
        work,
        lambda: new.write(path),
        lambda: _observe(lambda: _state(GraphStore.read(spark, path))),
        (s_old, UNMARKED, s_new),
        s_new,
    )
    assert steps >= 4  # three table writes and the marker
    # a torn write is refused loudly, naming the snapshot
    crash_at(0, lambda: new.write(path))
    with pytest.raises(commit.Unmarked, match=re.escape(path)):
        GraphStore.read(spark, path)


def test_graph_publish_crash_is_old_or_new(spark, tmp_path, crash_at, graphs):
    old, new, s_old, s_new = graphs
    pristine, work = tmp_path / "pristine", tmp_path / "work"
    old.publish(str(pristine / "snap"))
    path = str(work / "snap")
    steps = each_crash(
        crash_at,
        pristine,
        work,
        lambda: new.publish(path),
        lambda: _state(GraphStore.read(spark, path)),
        (s_old, s_new),
        s_new,
    )
    assert steps >= 7  # stage, write, swap
    assert sorted(os.listdir(work)) == ["snap"]  # no parked copy left


def test_graph_publish_version_crash_is_old_or_new(spark, tmp_path, crash_at, graphs):
    old, new, s_old, s_new = graphs
    pristine, work = tmp_path / "pristine", tmp_path / "work"
    old.publish_version(str(pristine / "base"))
    base = str(work / "base")
    each_crash(
        crash_at,
        pristine,
        work,
        lambda: new.publish_version(base),
        lambda: _state(GraphStore.read_version(spark, base)),
        (s_old, s_new),
        s_new,
    )
    assert GraphStore.versions(base) == [1, 2]


def test_graph_vacuum_crash_is_old_or_unmarked(spark, tmp_path, crash_at, graphs):
    old, new, s_old, s_new = graphs
    pristine, work = tmp_path / "pristine", tmp_path / "work"
    old.publish_version(str(pristine / "base"))
    new.publish_version(str(pristine / "base"))
    base = str(work / "base")

    def observe():
        v1 = _observe(lambda: _state(GraphStore.read_version(spark, base, 1)))
        return v1, _state(GraphStore.read_version(spark, base))

    each_crash(
        crash_at,
        pristine,
        work,
        lambda: GraphStore.vacuum(base, keep=1),
        observe,
        ((s_old, s_new), (UNMARKED, s_new)),
        (UNMARKED, s_new),
    )


def test_graph_write_failing_flush_raises_and_leaves_unmarked(spark, tmp_path, graphs):
    """One label's flush fails inside ``write``'s concurrent tasks: the
    error reaches the caller and the snapshot is left unmarked."""
    old, new, _, _ = graphs
    path = str(tmp_path / "snap")
    old.write(path)
    # a batch without the label's key column fails the label's merge
    new.upsert_nodes("Vcentercluster", spark.createDataFrame([("c1",)], "ha string"))
    with pytest.raises(Exception, match="managedby|name"):
        new.write(path)
    with pytest.raises(commit.Unmarked, match=re.escape(path)):
        GraphStore.read(spark, path)


def test_snapshot_read_absent_or_empty_is_first_build(spark, tmp_path):
    """The CLI's first build reads an absent or empty directory."""
    (tmp_path / "empty").mkdir()
    for d in ("absent", "empty"):
        assert GraphStore.read(spark, str(tmp_path / d)).labels() == []


# -- indexes -------------------------------------------------------------------

_DOC = "doc_id long, text string"
_TEXTS = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "lorem ipsum dolor sit amet consectetur adipiscing",
    3: "a completely different sentence about graph snapshots",
}


def _docs(spark, rows):
    return spark.createDataFrame(rows, _DOC)


def test_dedup_index_write_and_compact_crash(spark, tmp_path, crash_at):
    from vmware_graph_spark.operators.dedup import (
        INDEX_TABLES,
        compact_dedup_index,
        dedup_against_index,
        write_dedup_index,
    )

    ref_a = _docs(spark, [(i, _TEXTS[i]) for i in (1, 2)])
    ref_b = _docs(spark, [(i, _TEXTS[i]) for i in (1, 2, 3)])
    probe = _docs(spark, [(10, _TEXTS[1]), (11, _TEXTS[3]), (12, "nothing like the rest")])
    pristine, work = tmp_path / "pristine", tmp_path / "work"
    idx = str(work / "idx")

    def decisions():
        out = dedup_against_index(probe, spark, idx, "doc_id", "text")
        return sorted(map(tuple, out.collect()))

    write_dedup_index(ref_a, str(pristine / "idx"), "doc_id", "text")
    shutil.copytree(pristine, work)
    d_a = decisions()
    write_dedup_index(ref_b, idx, "doc_id", "text")
    d_b = decisions()
    assert d_a != d_b
    each_crash(
        crash_at,
        pristine,
        work,
        lambda: write_dedup_index(ref_b, idx, "doc_id", "text"),
        lambda: _observe(decisions),
        (d_a, UNMARKED, d_b),
        d_b,
    )

    # compact: crash-retry residue in every table, so it rewrites each
    for t in INDEX_TABLES:
        p = str(pristine / "idx" / f"{t}.parquet")
        spark.read.parquet(p).localCheckpoint(eager=True).write.mode("append").parquet(p)

    def observe_compact():
        seen = _observe(decisions)
        commit.recover(idx)  # no copy lost: the next compact finds one
        assert commit.marked(idx)
        return seen

    steps = each_crash(
        crash_at,
        pristine,
        work,
        lambda: compact_dedup_index(spark, idx),
        observe_compact,
        (d_a, UNMARKED),
        d_a,
    )
    assert steps >= 10  # stage, four tables, marker, swap


def test_crawled_urls_write_crash(spark, tmp_path, crash_at):
    from vmware_graph_spark.operators.crawl import frontier_against_crawled, write_crawled_urls

    def urls(*names):
        return spark.createDataFrame([(f"http://h/{n}",) for n in names], "canon string")

    pristine, work = tmp_path / "pristine", tmp_path / "work"
    write_crawled_urls(urls("a"), str(pristine / "idx"))
    idx = str(work / "idx")
    cand = urls("a", "b", "c")
    each_crash(
        crash_at,
        pristine,
        work,
        lambda: write_crawled_urls(urls("a", "b"), idx),
        lambda: _observe(
            lambda: sorted(r.canon for r in frontier_against_crawled(spark, idx, cand).collect())
        ),
        (["http://h/b", "http://h/c"], UNMARKED, ["http://h/c"]),
        ["http://h/c"],
    )


def test_ann_index_write_crash(spark, tmp_path, crash_at):
    from vmware_graph_spark.operators.similarity import ann_topk_against_index, write_ann_index

    schema = "vec_id long, embedding array<double>, label string"
    corpus_a = spark.createDataFrame(
        [(1, [1.0, 0.0], "x"), (2, [0.9, 0.1], "x"), (3, [0.0, 1.0], "y"), (4, [0.1, 0.9], "y")],
        schema,
    )
    corpus_b = spark.createDataFrame(
        [(5, [1.0, 0.1], "x"), (6, [0.8, 0.0], "x"), (7, [0.1, 1.0], "y"), (8, [0.0, 0.8], "y")],
        schema,
    )
    qs = spark.createDataFrame([(100, [1.0, 0.05]), (101, [0.05, 1.0])], "vec_id long, embedding array<double>")
    pristine, work = tmp_path / "pristine", tmp_path / "work"
    write_ann_index(corpus_a, str(pristine / "idx"), "vec_id", "embedding", "label")
    idx = str(work / "idx")

    def topk():
        out = ann_topk_against_index(spark, idx, qs, "vec_id", "embedding", k=2)
        return sorted((r.qid, r.cid, r.rank) for r in out.collect())

    shutil.copytree(pristine, work)
    t_a = topk()
    write_ann_index(corpus_b, idx, "vec_id", "embedding", "label")
    t_b = topk()
    assert t_a != t_b
    each_crash(
        crash_at,
        pristine,
        work,
        lambda: write_ann_index(corpus_b, idx, "vec_id", "embedding", "label"),
        lambda: _observe(topk),
        (t_a, UNMARKED, t_b),
        t_b,
    )
