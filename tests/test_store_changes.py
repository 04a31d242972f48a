"""Change data feed (TableStore.changes): Delta-CDF semantics computed
from the manifests — append commits are O(new rows) inserts, rewrite
commits are keyed snapshot diffs, compaction emits nothing."""

from __future__ import annotations

import pytest

from lakehouse_spark.mutation.store import TableStore


def _feed(df):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in df.collect()
    )


@pytest.fixture()
def store(spark, tmp_path):
    s = TableStore(spark, str(tmp_path / "t"), key="id")
    s.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))  # v0
    s.append(spark.createDataFrame([(3, "c")], "id long, v string"))          # v1
    s.upsert(spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string"))  # v2
    s.delete_keys(spark.createDataFrame([(1,)], "id long"))                   # v3
    return s


def test_init_and_append_are_inserts(store):
    assert _feed(store.changes(0, 0)) == [
        (0, "insert", 1, "a"),
        (0, "insert", 2, "b"),
    ]
    assert _feed(store.changes(1, 1)) == [(1, "insert", 3, "c")]


def test_rewrite_diff_classifies_update_insert_delete(store):
    assert _feed(store.changes(2, 2)) == [
        (2, "insert", 4, "d"),
        (2, "update_postimage", 2, "B"),
        (2, "update_preimage", 2, "b"),
    ]
    assert _feed(store.changes(3, 3)) == [(3, "delete", 1, "a")]


def test_multi_version_range_and_default_head(store):
    got = _feed(store.changes(1))  # to_version defaults to head (3)
    assert got == [
        (1, "insert", 3, "c"),
        (2, "insert", 4, "d"),
        (2, "update_postimage", 2, "B"),
        (2, "update_preimage", 2, "b"),
        (3, "delete", 1, "a"),
    ]
    # replaying the feed over the v0 snapshot reproduces the head snapshot
    state = {r.id: r.v for r in store.read(0).collect()}
    for _, ctype, k, v in got:
        if ctype in ("insert", "update_postimage"):
            state[k] = v
        elif ctype == "delete":
            del state[k]
    assert state == {r.id: r.v for r in store.read().collect()}


def test_versions_read_back_exactly_and_history_newest_first(spark, store):
    """The versioned-table contract the pipelines rely on: init round-trips
    rows and types, append is additive, upsert updates matched keys and
    inserts the rest without duplicating, delete_keys removes exactly the
    named keys present, every commit bumps the version
    by one and stays readable by number, and history() lists versions
    newest first."""

    def rows(v=None):
        return sorted((r.id, r.v) for r in store.read(v).collect())

    assert dict(store.read(0).dtypes) == {"id": "bigint", "v": "string"}
    assert rows(0) == [(1, "a"), (2, "b")]
    assert rows(1) == [(1, "a"), (2, "b"), (3, "c")]
    assert rows(2) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert rows(3) == [(2, "B"), (3, "c"), (4, "d")]
    store.upsert(spark.createDataFrame([(4, "D")], "id long, v string"))
    store.delete_keys(spark.createDataFrame([(3,), (999,)], "id long"))
    assert store.current_version() == 5
    assert rows() == [(2, "B"), (4, "D")]
    assert [h["version"] for h in store.history()] == [5, 4, 3, 2, 1, 0]


def test_compaction_emits_no_changes(store):
    v = store.compact()
    feed = store.changes(v, v)
    assert feed.count() == 0
    assert "_change_type" in feed.columns  # schema survives the empty case


def test_invalid_range_and_vacuumed_manifest(store):
    with pytest.raises(ValueError, match="invalid change range"):
        store.changes(2, 1)
    with pytest.raises(ValueError, match="invalid change range"):
        store.changes(0, 99)
    store.compact()                      # v4
    store.vacuum(keep_last=1)            # drops manifests 0..3
    with pytest.raises(FileNotFoundError):
        store.changes(2, 3).collect()


def test_schema_evolution_append_then_diff(spark, tmp_path):
    """An append with a new column feeds inserts carrying that column; a
    later rewrite diff treats null and missing alike (to_json canonical
    form), so untouched old rows don't show up as phantom updates."""
    s = TableStore(spark, str(tmp_path / "e"), key="id")
    s.init(spark.createDataFrame([(1, "a")], "id long, v string"))       # v0
    s.append(
        spark.createDataFrame([(2, "b", "x")], "id long, v string, w string")
    )                                                                     # v1
    assert _feed(s.changes(1, 1)) == [(1, "insert", 2, "b")]
    got = {
        (r["id"], r["w"]) for r in s.changes(1, 1).collect()
    }
    assert got == {(2, "x")}
    # rewrite touching only id=2: id=1 must NOT appear in the diff even
    # though its materialized row gained a null 'w' column via mergeSchema
    s.upsert(
        spark.createDataFrame([(2, "B", "x")], "id long, v string, w string")
    )                                                                     # v2
    assert _feed(s.changes(2, 2)) == [
        (2, "update_postimage", 2, "B"),
        (2, "update_preimage", 2, "b"),
    ]
