"""The derived-artifact store (de_project_sprint_etl_spark/artifacts.py):
atomic publish, the lost-rename race, where temp dirs live, and the
read memo's eviction on a rebuild."""

from __future__ import annotations

import os

import pytest

from de_project_sprint_etl_spark import artifacts


@pytest.fixture()
def store(tmp_path, monkeypatch):
    """An empty store root and a one-table corpus keyed into it."""
    root = tmp_path / "derived"
    monkeypatch.setattr(artifacts, "ROOT", root)
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "documents.parquet").write_bytes(b"x")
    return root, str(corpus)


def _frame_writer(spark, ids):
    return lambda p: spark.range(len(ids)).selectExpr(f"id + {ids[0]} AS id").write.parquet(str(p))


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_failed_build_leaves_nothing_and_the_next_call_rebuilds(spark, store):
    root, corpus = store

    def crash(p):
        p.mkdir()
        (p / "part-00000.parquet").write_bytes(b"half a table")
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError):
        artifacts.read(spark, corpus, "t", ("documents",), crash, spark.read.parquet)
    final = artifacts.location(corpus, "t", ("documents",))
    assert not final.exists()
    assert os.listdir(final.parent) == []
    got = artifacts.read(
        spark, corpus, "t", ("documents",), _frame_writer(spark, [0, 1, 2]),
        lambda p: spark.read.parquet(str(p)),
    )
    assert _ids(got) == [0, 1, 2]


def test_a_publish_that_loses_the_rename_serves_the_winner(spark, store):
    root, corpus = store
    final = artifacts.location(corpus, "t", ("documents",))
    winner = _frame_writer(spark, [10, 11])

    def loser(p):
        _frame_writer(spark, [0, 1, 2])(p)
        # a concurrent writer publishes between our write and our rename
        assert artifacts.publish(final, winner) == final

    got = artifacts.read(
        spark, corpus, "t", ("documents",), loser, lambda p: spark.read.parquet(str(p))
    )
    assert _ids(got) == [10, 11]
    assert os.listdir(final.parent) == ["t"]


def test_temp_dirs_live_inside_the_corpus_entry(spark, store):
    root, corpus = store
    seen = []

    def write(p):
        seen.append(p)
        _frame_writer(spark, [0])(p)

    artifacts.build(corpus, "t", ("documents",), write)
    final = artifacts.location(corpus, "t", ("documents",))
    assert [p.parent for p in seen] == [final.parent]
    assert [e.name for e in root.iterdir()] == [final.parent.name]
    assert os.listdir(final.parent) == ["t"]


def test_the_memo_returns_one_frame_until_a_rebuild(spark, store):
    import shutil

    root, corpus = store

    def read(ids):
        return artifacts.read(
            spark, corpus, "t", ("documents",), _frame_writer(spark, ids),
            lambda p: spark.read.parquet(str(p)),
        )

    first = read([0, 1])
    assert read([5]) is first  # published: the writer does not run again
    shutil.rmtree(artifacts.location(corpus, "t", ("documents",)))
    rebuilt = read([7])
    assert rebuilt is not first
    assert _ids(rebuilt) == [7]


def test_the_key_covers_every_declared_input(store):
    root, corpus = store
    (root.parent / "corpus" / "events.parquet").write_bytes(b"y")
    both = ("documents", "events")
    before = artifacts.location(corpus, "t", both)
    assert artifacts.location(corpus, "t", ("events", "documents")) == before
    ev = os.path.join(corpus, "events.parquet")
    st = os.stat(ev)
    os.utime(ev, ns=(st.st_atime_ns, st.st_mtime_ns + 7))
    assert artifacts.location(corpus, "t", both) != before
    assert artifacts.location(corpus, "t", ("documents",)).parent.name.startswith(
        corpus.strip("/").replace("/", "_") + "-"
    )
