"""Round-10 verdict #3: SQL DML with subqueries in WHERE.

``DELETE FROM t WHERE id IN (SELECT ...)`` / ``UPDATE ... WHERE [NOT]
IN/EXISTS (...)`` route through the catalog (follow_head + inline time
travel apply to the subquery), evaluate to a key frame or inline value
list, and commit through the store's transactional DML — Delta's
documented DELETE/UPDATE-with-subquery semantics, and the SQL face of
the reference's cascade delete (an id-set delete,
amplifier_library/sessions/manager.py:422-452).
"""

from __future__ import annotations

import pytest

from lakehouse_spark.catalog import LakeCatalog
from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark import sqldml


def _mk(spark, path, *, cdf=False, n_segs=4):
    """Key-clustered store: one segment per disjoint id-century."""
    st = TableStore(
        spark,
        str(path),
        key="id",
        stats_cols=("id", "x"),
        write_cdf=cdf,
    )
    st.init(spark.range(100).selectExpr("id", "id AS x", "id % 2 AS flag"))
    for i in range(1, n_segs):
        st.append(
            spark.range(i * 100, i * 100 + 100).selectExpr(
                "id", "id AS x", "id % 2 AS flag"
            )
        )
    return st


def _quarantine(spark, path, ids):
    qs = TableStore(spark, str(path), key="id")
    qs.init(spark.createDataFrame([(i,) for i in ids], "id long"))
    return qs


def test_delete_key_in_subquery_parity_with_delete_keys(spark, tmp_path):
    ids = [5, 17, 150, 151, 399]
    a = _mk(spark, tmp_path / "a", cdf=True)
    b = _mk(spark, tmp_path / "b", cdf=True)
    q = _quarantine(spark, tmp_path / "q", ids)
    cat = LakeCatalog(spark)
    cat.register("t", store=a)
    cat.register("quarantine", store=q)

    res = cat.sql(
        "DELETE FROM t WHERE id IN (SELECT id FROM quarantine)"
    ).collect()[0]
    n_py = b.delete_keys(q.read().select("id"))
    assert res.affected_rows == n_py == 5

    rows_sql = sorted(r.id for r in a.read().collect())
    rows_py = sorted(r.id for r in b.read().collect())
    assert rows_sql == rows_py
    # CDF rows identical (same change types, same pre-images).
    v = a.current_version()
    cdf_sql = sorted(
        (r.id, r._change_type) for r in a.changes(v, v).collect()
    )
    cdf_py = sorted(
        (r.id, r._change_type) for r in b.changes(v, v).collect()
    )
    assert cdf_sql == cdf_py
    assert {i for i, _ in cdf_sql if _ == "delete"} == set(ids)


def test_delete_subquery_file_skipping_on_clustered_table(spark, tmp_path):
    """Only key-matching segments are rewritten: the other centuries'
    segments survive BY NAME (carried by reference, Done criterion)."""
    st = _mk(spark, tmp_path / "t")
    segs_before = st._snapshot(st.current_version())["segments"]
    q = _quarantine(spark, tmp_path / "q", [150, 160])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    cat.sql("DELETE FROM t WHERE id IN (SELECT id FROM quarantine)")
    segs_after = set(st._snapshot(st.current_version())["segments"])
    untouched = [s for s in segs_before if not s.endswith("01")]
    # Segment of the 100..199 century (written at v1) was rewritten;
    # the other three originals survive by name.
    surviving = [s for s in segs_before if s in segs_after]
    assert len(surviving) == 3
    assert st.read().count() == 398


def test_delete_in_subquery_with_extra_conjunct_inline_route(
    spark, tmp_path
):
    st = _mk(spark, tmp_path / "t")
    q = _quarantine(spark, tmp_path / "q", [10, 11, 12, 210])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    res = cat.sql(
        "DELETE FROM t WHERE id IN (SELECT id FROM quarantine) "
        "AND flag = 0"
    ).collect()[0]
    # flag = id % 2: of {10,11,12,210} only 10,12,210 have flag 0.
    assert res.affected_rows == 3
    left = {r.id for r in st.read().filter("id < 20 OR id > 200").collect()}
    assert 11 in left and 10 not in left and 210 not in left


def test_delete_not_in_subquery(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=1)
    keep = _quarantine(spark, tmp_path / "q", list(range(0, 100, 2)))
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("keep", store=keep)
    res = cat.sql(
        "DELETE FROM t WHERE id NOT IN (SELECT id FROM keep)"
    ).collect()[0]
    assert res.affected_rows == 50  # the odd ids
    assert st.read().count() == 50
    assert all(r.id % 2 == 0 for r in st.read().collect())


def test_not_in_with_null_bearing_set_deletes_nothing(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=1)
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register(
        "nulls",
        df=spark.createDataFrame([(1,), (None,)], "id long"),
    )
    res = cat.sql(
        "DELETE FROM t WHERE id NOT IN (SELECT id FROM nulls)"
    ).collect()[0]
    assert res.affected_rows == 0
    assert st.read().count() == 100


def test_delete_in_empty_subquery_deletes_nothing(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=1)
    q = _quarantine(spark, tmp_path / "q", [9999])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    res = cat.sql(
        "DELETE FROM t WHERE x IN (SELECT id FROM quarantine WHERE id < 0)"
    ).collect()[0]
    assert res.affected_rows == 0
    assert st.read().count() == 100


def test_exists_terms_fold_to_constants(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=1)
    q = _quarantine(spark, tmp_path / "q", [1])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    # EXISTS over a nonempty set: conjunct TRUE, the rest applies.
    res = cat.sql(
        "DELETE FROM t WHERE EXISTS (SELECT 1 FROM quarantine) AND id < 10"
    ).collect()[0]
    assert res.affected_rows == 10
    # NOT EXISTS over a nonempty set: provably nothing matches.
    res = cat.sql(
        "DELETE FROM t WHERE NOT EXISTS (SELECT 1 FROM quarantine)"
    ).collect()[0]
    assert res.affected_rows == 0
    assert st.read().count() == 90


def test_correlated_exists_raises_with_directions(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=1)
    q = _quarantine(spark, tmp_path / "q", [1])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    with pytest.raises(ValueError, match="correlated"):
        cat.sql(
            "DELETE FROM t WHERE EXISTS "
            "(SELECT 1 FROM quarantine WHERE quarantine.id = t.id)"
        )
    assert st.read().count() == 100


def test_update_with_in_subquery(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=2)
    q = _quarantine(spark, tmp_path / "q", [3, 150])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    res = cat.sql(
        "UPDATE t SET x = -1 WHERE id IN (SELECT id FROM quarantine)"
    ).collect()[0]
    assert res.affected_rows == 2
    got = {r.id: r.x for r in st.read().filter("x = -1").collect()}
    assert set(got) == {3, 150}


def test_subquery_cap_raises_with_directions(spark, tmp_path, monkeypatch):
    st = _mk(spark, tmp_path / "t", n_segs=1)
    q = _quarantine(spark, tmp_path / "q", [1, 2, 3, 4, 5])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    monkeypatch.setattr(sqldml, "_SUBQ_INLINE_CAP", 3)
    with pytest.raises(ValueError, match="delete_keys"):
        # x (not the key) forces the inline route past the cap.
        cat.sql("DELETE FROM t WHERE x IN (SELECT id FROM quarantine)")
    # The key route is uncapped (distributed join) — same 5-value set.
    res = cat.sql(
        "DELETE FROM t WHERE id IN (SELECT id FROM quarantine)"
    ).collect()[0]
    assert res.affected_rows == 5


def test_subquery_sees_inline_time_travel(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=1)  # v0: ids 0..99
    st.append(
        spark.range(100, 105).selectExpr("id", "id AS x", "id % 2 AS flag")
    )
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    # Delete every row that existed at v0 — the tail survives.
    res = cat.sql(
        "DELETE FROM t WHERE id IN (SELECT id FROM t VERSION AS OF 0)"
    ).collect()[0]
    assert res.affected_rows == 100
    assert sorted(r.id for r in st.read().collect()) == [
        100,
        101,
        102,
        103,
        104,
    ]


def test_string_values_with_quotes_inline_safely(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "t"), key="name")
    st.init(
        spark.createDataFrame(
            [("o'brien", 1), ("smith", 2), ("d'arcy", 3)],
            "name string, x long",
        )
    )
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register(
        "bad",
        df=spark.createDataFrame([("o'brien",), ("d'arcy",)], "name string"),
    )
    res = cat.sql(
        # name is the key but a second conjunct forces the inline route.
        "DELETE FROM t WHERE name IN (SELECT name FROM bad) AND x < 3"
    ).collect()[0]
    assert res.affected_rows == 1
    assert {r.name for r in st.read().collect()} == {"smith", "d'arcy"}


def test_or_precedence_with_empty_subquery_conjunct(spark, tmp_path):
    """Review pin (round 10): ``sub AND a OR b`` means ``(sub AND a) OR
    b`` — a never-true subquery must become a literal FALSE factor in
    place, not short-circuit the whole statement (the OR branch still
    matches rows)."""
    st = _mk(spark, tmp_path / "t", n_segs=1)
    q = _quarantine(spark, tmp_path / "q", [1])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    res = cat.sql(
        "DELETE FROM t WHERE x IN (SELECT id FROM quarantine WHERE id < 0) "
        "AND flag = 0 OR id = 7"
    ).collect()[0]
    assert res.affected_rows == 1  # only the OR branch row
    assert st.read().filter("id = 7").count() == 0
    assert st.read().count() == 99
    # Same shape with a constant-FALSE EXISTS factor.
    res = cat.sql(
        "DELETE FROM t WHERE NOT EXISTS (SELECT 1 FROM quarantine) "
        "AND flag = 0 OR id = 8"
    ).collect()[0]
    assert res.affected_rows == 1
    # And with a NULL-bearing NOT IN factor.
    cat.register(
        "nulls", df=spark.createDataFrame([(None,)], "id long")
    )
    res = cat.sql(
        "DELETE FROM t WHERE id NOT IN (SELECT id FROM nulls) "
        "AND flag = 0 OR id = 9"
    ).collect()[0]
    assert res.affected_rows == 1
    assert st.read().count() == 97


def test_nan_subquery_value_inlines_as_typed_literal(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "t"), key="id")
    st.init(
        spark.sql(
            "SELECT id, CASE WHEN id = 3 THEN CAST('NaN' AS DOUBLE) "
            "ELSE CAST(id AS DOUBLE) END AS y, 0 AS x FROM range(10)"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register(
        "q",
        df=spark.sql("SELECT CAST('NaN' AS DOUBLE) AS y"),
    )
    res = cat.sql(
        "UPDATE t SET x = -1 WHERE y IN (SELECT y FROM q)"
    ).collect()[0]
    # Spark's NaN-equals-NaN IN semantics survive the inline rewrite.
    assert res.affected_rows == 1
    assert [r.id for r in st.read().filter("x = -1").collect()] == [3]


def test_exists_failure_not_misattributed_to_correlation(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=1)
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    with pytest.raises(ValueError) as ei:
        cat.sql(
            "DELETE FROM t WHERE EXISTS (SELECT 1 FROM quarantime_typo)"
        )
    msg = str(ei.value)
    assert "failed to evaluate" in msg
    assert "correlated" not in msg  # a typo'd table is not correlation


# -- chains of three or more terms ---------------------------------------------
# The parser builds ``a AND b AND c`` as one balanced tree whose inner AND
# nodes all carry the whole chain's text. The subquery below reads a
# version the raw Spark view cannot, so any path that hands the original
# subquery text to the store fails instead of passing by luck.


def _versioned_quarantine(spark, path):
    q = _quarantine(spark, path, [3, 4, 5, 150, 151])  # v0
    q.append(spark.createDataFrame([(7,), (9,)], "id long"))  # v1
    return q


def test_update_key_in_subquery_last_in_three_term_chain(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=2)
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=_versioned_quarantine(spark, tmp_path / "q"))
    res = cat.sql(
        "UPDATE t SET x = -1 WHERE flag = 1 AND x < 100 AND "
        "id IN (SELECT id FROM quarantine VERSION AS OF 0)"
    ).collect()[0]
    assert res.affected_rows == 2
    assert {r.id for r in st.read().filter("x = -1").collect()} == {3, 5}


def test_update_non_key_in_subquery_in_three_term_chain(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=2)
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=_versioned_quarantine(spark, tmp_path / "q"))
    res = cat.sql(
        "UPDATE t SET flag = 7 WHERE flag = 1 AND x < 100 AND "
        "x IN (SELECT id FROM quarantine VERSION AS OF 0) AND id >= 0"
    ).collect()[0]
    assert res.affected_rows == 2
    assert {r.id for r in st.read().filter("flag = 7").collect()} == {3, 5}


def test_delete_time_travel_subquery_last_in_chain(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", n_segs=1)  # v0: ids 0..99
    st.append(
        spark.range(100, 105).selectExpr("id", "id AS x", "id % 2 AS flag")
    )
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    res = cat.sql(
        "DELETE FROM t WHERE flag = 0 AND x >= 50 AND x <> 60 AND "
        "id IN (SELECT id FROM t VERSION AS OF 0)"
    ).collect()[0]
    assert res.affected_rows == 24  # even 50..98 but 60
    left = {r.id for r in st.read().filter("id >= 50").collect()}
    assert left == {60, *range(51, 100, 2), 100, 101, 102, 103, 104}


def test_subquery_bodies_with_order_by_and_limit(spark, tmp_path):
    """A query's ORDER BY / LIMIT nodes carry only those clauses' text;
    the body sent to the catalog is still the whole query."""
    st = _mk(spark, tmp_path / "t", n_segs=1)
    q = _quarantine(spark, tmp_path / "q", [40, 10, 30, 20])
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    cat.register("quarantine", store=q)
    res = cat.sql(
        "DELETE FROM t WHERE id IN "
        "(SELECT id FROM quarantine ORDER BY id LIMIT 2)"
    ).collect()[0]
    assert res.affected_rows == 2
    res = cat.sql(
        "UPDATE t SET x = -1 WHERE flag = 0 AND x IN "
        "(SELECT id FROM quarantine ORDER BY id DESC LIMIT 1) OR EXISTS "
        "(SELECT id FROM quarantine WHERE id < 0 ORDER BY id LIMIT 1)"
    ).collect()[0]
    assert res.affected_rows == 1
    assert {r.id for r in st.read().filter("id IN (10, 20)").collect()} == set()
    assert [r.id for r in st.read().filter("x = -1").collect()] == [40]
