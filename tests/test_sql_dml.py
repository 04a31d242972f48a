"""SQL DML through the catalog (round-9 task): INSERT/UPDATE/DELETE/MERGE
INTO a registered name route to the owning TableStore's transactional DML
with parity to the direct Python calls — including file skipping from the
WHERE clause and identical CDF rows. Reference: every entity there is
mutated by name through the API (amplifier_library/sessions/manager.py
CRUD/cascade — read, not copied).
"""

from __future__ import annotations

import pytest

from lakehouse_spark.catalog import LakeCatalog
from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark.sqldml import extract_predicate


def _mk(spark, tmp_path, name="t", write_cdf=False):
    st = TableStore(
        spark,
        str(tmp_path / name),
        key="id",
        stats_cols=("id", "day"),
        write_cdf=write_cdf,
    )
    st.init(
        spark.range(100).selectExpr(
            "id", "CAST(id % 4 AS STRING) AS day", "id * 2 AS val"
        )
    )
    return st


def test_extract_predicate_shapes(spark):
    p = extract_predicate(
        "id >= 10 AND id < 20 AND day = 'd1' AND grp IN (1, 2, 3) "
        "AND ts BETWEEN 5 AND 9 AND upper(name) = 'X'"
    )
    assert p["id"] == (10, 20)  # strict < widened to closed (conservative)
    assert p["day"] == "d1"
    assert p["grp"] == [1, 2, 3]
    assert p["ts"] == (5, 9)
    assert "name" not in p and "upper(name)" not in str(p)
    # OR never extracts (not a conjunct)
    assert extract_predicate("id = 1 OR id = 2") == {}


def test_sql_delete_routes_and_prunes(spark, tmp_path):
    st = _mk(spark, tmp_path)
    st.compact(range_by="id", n_segments=4)  # cluster so stats prune
    segs_before = st._snapshot(st.current_version())["segments"]
    cat = LakeCatalog(spark)
    cat.register("events_t", store=st)
    res = cat.sql("DELETE FROM events_t WHERE id >= 90").collect()[0]
    assert res.op == "DELETE" and res.affected_rows == 10
    # file skipping happened: untouched low-range segments reused by name
    segs_after = st._snapshot(st.current_version())["segments"]
    assert len(set(segs_before) & set(segs_after)) >= 2
    # the view auto-refreshed to the new head
    assert cat.sql("SELECT count(*) AS n FROM events_t").collect()[0].n == 90
    assert st.read().count() == 90


def test_sql_delete_parity_with_python_api(spark, tmp_path):
    a = _mk(spark, tmp_path, "a", write_cdf=True)
    b = _mk(spark, tmp_path, "b", write_cdf=True)
    cat = LakeCatalog(spark)
    cat.register("tbl_a", store=a)
    cat.sql("DELETE FROM tbl_a WHERE day = '1' AND id < 50")
    b.delete_where(where="day = '1' AND id < 50", predicate={"day": "1"})
    assert sorted(r.id for r in a.read().collect()) == sorted(
        r.id for r in b.read().collect()
    )
    # CDF rows identical (same commit classification and pre-images)
    ca = {
        (r.id, r._change_type)
        for r in a.changes(1, a.current_version()).collect()
    }
    cb = {
        (r.id, r._change_type)
        for r in b.changes(1, b.current_version()).collect()
    }
    assert ca == cb and ca


def test_sql_insert_values_and_select(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("ins_t", store=st)
    r = cat.sql(
        "INSERT INTO ins_t (id, day, val) VALUES (1000, 'd9', 7), "
        "(1001, 'd9', 8)"
    ).collect()[0]
    assert r.affected_rows == 2
    assert st.read().count() == 102
    # commit was an O(delta) append
    import json

    raw = json.load(open(st._manifest_path(st.current_version())))
    assert "segments" not in raw and raw["add"]
    r = cat.sql(
        "INSERT INTO ins_t SELECT id + 5000, day, val FROM ins_t "
        "WHERE id >= 1000"
    ).collect()[0]
    assert r.affected_rows == 2
    assert st.read().count() == 104
    got = {r.id for r in st.read(predicate={"id": (6000, 6001)}).collect()}
    assert got == {6000, 6001}


def test_sql_update_routes(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("upd_t", store=st)
    r = cat.sql(
        "UPDATE upd_t SET val = val + 1000 WHERE id BETWEEN 10 AND 14"
    ).collect()[0]
    assert r.op == "UPDATE" and r.affected_rows == 5
    rows = {r.id: r.val for r in st.read().collect()}
    assert rows[12] == 12 * 2 + 1000 and rows[9] == 18


def test_sql_merge_routes(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("mrg_t", store=st)
    src = spark.range(95, 105).selectExpr(
        "id", "'dX' AS day", "id * 10 AS val"
    )
    cat.register("mrg_src", df=src)
    cat.sql(
        "MERGE INTO mrg_t AS t USING mrg_src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.val > 960 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET val = s.val "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {r.id: r.val for r in st.read().collect()}
    # 96..99 matched with s.val (960..990) > 960 → 97,98,99 deleted; 96 = 960 updated
    assert 97 not in rows and 98 not in rows and 99 not in rows
    assert rows[96] == 960 and rows[95] == 950
    assert rows[100] == 1000 and rows[104] == 1040  # inserts
    # parity with the direct call
    st2 = _mk(spark, tmp_path, "p")
    st2.merge(
        src,
        update_cols=["val"],
        update_cond=None,
        delete_cond="s.val > 960",
        insert=True,
    )
    assert rows == {r.id: r.val for r in st2.read().select("id", "val").collect()}


def test_sql_merge_with_subquery_source(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("mq_t", store=st)
    cat.sql(
        "MERGE INTO mq_t t USING (SELECT id, CAST(id % 4 AS STRING) AS day, "
        "id * 100 AS val FROM range(3)) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    rows = {r.id: r.val for r in st.read().collect()}
    assert rows[0] == 0 and rows[1] == 100 and rows[2] == 200 and rows[3] == 6


def test_sql_dml_guards(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("g_t", store=st, version=0)
    with pytest.raises(ValueError, match="pinned"):
        cat.sql("DELETE FROM g_t WHERE id = 1")
    cat.register("g_df", df=spark.range(3))
    with pytest.raises(ValueError, match="TableStore-backed"):
        cat.sql("DELETE FROM g_df WHERE id = 1")
    cat.register("g_head", store=st)
    with pytest.raises(ValueError, match="WHERE"):
        cat.sql("DELETE FROM g_head")
    with pytest.raises(ValueError, match="key equi-join"):
        cat.sql(
            "MERGE INTO g_head t USING g_df s ON t.val = s.id "
            "WHEN MATCHED THEN DELETE"
        )


def test_follow_head_view_sees_new_commits(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("fh", store=st, follow_head=True)
    cat.register("pinned", store=st)  # registration-time snapshot
    n0 = cat.sql("SELECT count(*) AS n FROM fh").collect()[0].n
    st.append(
        spark.range(500, 510).selectExpr(
            "id", "CAST(id % 4 AS STRING) AS day", "id * 2 AS val"
        )
    )
    assert cat.sql("SELECT count(*) AS n FROM fh").collect()[0].n == n0 + 10
    assert cat.table("fh").count() == n0 + 10
    # the pinned view still shows the registration-time snapshot
    assert cat.sql("SELECT count(*) AS n FROM pinned").collect()[0].n == n0


def test_follow_head_rejects_version_pin(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    with pytest.raises(ValueError, match="follow_head"):
        cat.register("x", store=st, version=0, follow_head=True)


def test_extract_predicate_never_narrows_the_where(spark):
    """The safety contract behind WHERE-conjunct extraction: the DML paths
    AND the extracted stats-predicate with the full WHERE, so extraction
    must be IMPLIED by the WHERE — `filter(where)` and
    `filter(where AND predicate)` must select identical rows for every
    supported clause shape (strict bounds widened, OR never extracted,
    non-literal conjuncts skipped)."""
    from pyspark.sql import functions as F

    from lakehouse_spark.mutation.manifest import _predicate_expr

    rows = []
    for i in range(60):
        rows.append(
            (
                i,
                None if i % 7 == 0 else f"s{i % 5}",
                None if i % 11 == 0 else float(i) / 3.0,
            )
        )
    df = spark.createDataFrame(rows, "a long, s string, d double")
    clauses = [
        "a = 7",
        "a >= 10 AND a < 20",
        "a > 5 AND a <= 40 AND s = 's1'",
        "a BETWEEN 12 AND 31",
        "a BETWEEN 12 AND 31 AND d >= 3.5",
        "s IN ('s1', 's3')",
        "a IN (1, 2, 3, 40) AND s = 's2'",
        "a = 7 OR a = 9",
        "(a > 10 AND a < 50) OR s = 's0'",
        "upper(s) = 'S1' AND a < 30",
        "d > 2.0 AND d < 9.0 AND a % 2 = 0",
        "s = 's1' AND s = 's2'",
        "a >= 55 AND a >= 10",
        "a <= 5 AND a <= 30",
        "s IS NOT NULL AND a BETWEEN 3 AND 9",
        "a BETWEEN 5 AND 8 AND a IN (6, 7, 100)",
        # Round-9 review regressions: un-parenthesized OR binds looser
        # than AND, so any extraction from the left branch would narrow.
        "s = 's1' AND a = 1 OR s = 's2'",
        "a BETWEEN 0 AND 10 OR s = 's3'",
        "s = 's1' AND a BETWEEN 0 AND 10 OR s = 's2'",
        "a >= 40 OR a BETWEEN 2 AND 4 AND s = 's0'",
    ]
    from lakehouse_spark.sqldml import extract_predicate

    for where in clauses:
        pred = extract_predicate(where)
        base = {r.a for r in df.filter(F.expr(where)).collect()}
        cond = _predicate_expr(pred)
        if cond is None:
            continue  # nothing extracted: trivially safe
        both = {
            r.a
            for r in df.filter(
                F.expr(where) & F.coalesce(cond, F.lit(False))
            ).collect()
        }
        assert both == base, f"extraction narrowed {where!r}: {pred}"


def test_sql_maintenance_statements(spark, tmp_path):
    """Delta's SQL maintenance surface through the catalog: DESCRIBE
    HISTORY/DETAIL, OPTIMIZE [ZORDER BY], VACUUM [RETAIN n VERSIONS]
    [DRY RUN], RESTORE TO VERSION AS OF."""
    st = _mk(spark, tmp_path)
    st.append(
        spark.range(100, 200).selectExpr(
            "id", "CAST(id % 4 AS STRING) AS day", "id * 2 AS val"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("mt", store=st, follow_head=True)

    h = cat.sql("DESCRIBE HISTORY mt").collect()
    assert [r.version for r in h] == [1, 0]
    assert h[0].n_segments == 2

    d = cat.sql("DESCRIBE DETAIL mt").collect()[0]
    assert d.version == 1 and d.num_segments == 2 and d.key == "id"

    o = cat.sql("OPTIMIZE mt ZORDER BY (id, val)").collect()[0]
    assert o.version == 2 and o.num_segments >= 1
    assert cat.sql("SELECT count(*) n FROM mt").collect()[0].n == 200

    dry = cat.sql("VACUUM mt RETAIN 1 VERSIONS DRY RUN").collect()[0]
    assert dry.dry_run and dry.entries > 0
    real = cat.sql("VACUUM mt RETAIN 2 VERSIONS").collect()[0]
    assert not real.dry_run
    # old versions collected; table intact
    assert st.read().count() == 200

    r = cat.sql("RESTORE mt TO VERSION AS OF 1").collect()[0]
    assert r.version == 3
    assert cat.sql("SELECT count(*) n FROM mt").collect()[0].n == 200

    # plain DESCRIBE stays with Spark's parser (column listing of a view)
    cols = {r[0] for r in cat.sql("DESCRIBE mt").collect()}
    assert {"id", "day", "val"} <= cols


def test_sql_inline_time_travel(spark, tmp_path):
    """Delta's SELECT-side time travel: ``FROM t VERSION AS OF n`` /
    ``TIMESTAMP AS OF '<ts>'`` resolve to pinned snapshot views for
    store-backed registrations; unregistered names pass through to Spark
    untouched (never silently rewritten)."""
    st = _mk(spark, tmp_path)
    st.append(
        spark.range(100, 150).selectExpr(
            "id", "CAST(id % 4 AS STRING) AS day", "id * 2 AS val"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    assert (
        cat.sql("SELECT count(*) AS n FROM t VERSION AS OF 0").first().n
        == 100
    )
    assert cat.sql("SELECT count(*) AS n FROM t").first().n == 150
    # JOIN anchor + trailing alias survive the rewrite.
    j = cat.sql(
        "SELECT count(*) AS n FROM t cur "
        "JOIN t VERSION AS OF 0 old ON cur.id = old.id"
    ).first().n
    assert j == 100
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(
        st.commit_timestamp(0) + 0.001, tz=timezone.utc
    ).isoformat()
    assert (
        cat.sql(
            f"SELECT count(*) AS n FROM t TIMESTAMP AS OF '{iso}'"
        ).first().n
        == 100
    )
    # Unregistered name: left for Spark (which raises its own error).
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        cat.sql("SELECT * FROM nosuch VERSION AS OF 0").collect()


def test_sql_ctas_and_alter_table(spark, tmp_path):
    """CREATE [OR REPLACE] TABLE ... LOCATION ... AS SELECT materializes a
    new TableStore and registers it; ALTER TABLE routes rename/drop
    column and CHECK constraints to the store's logical-schema plane."""
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    p2 = str(tmp_path / "derived")
    r = cat.sql(
        f"CREATE TABLE d KEY id PARTITIONED BY (day) LOCATION '{p2}' "
        "AS SELECT id, day, val FROM t WHERE id < 40"
    ).first()
    assert (r.op, r.table) == ("create_table_as", "d")
    assert cat.sql("SELECT count(*) AS n FROM d").first().n == 40
    # Partition layout came through: day predicate prunes at the manifest.
    d_store = cat._entry("d")[0]
    assert d_store.partition_cols() == ("day",)
    with pytest.raises(ValueError, match="already registered"):
        cat.sql(f"CREATE TABLE d KEY id LOCATION '{p2}' AS SELECT * FROM t")
    cat.sql(
        f"CREATE OR REPLACE TABLE d KEY id LOCATION '{p2}' "
        "AS SELECT id, day, val FROM t WHERE id < 10"
    )
    assert cat.sql("SELECT count(*) AS n FROM d").first().n == 10
    # ALTER TABLE forms, each visible through the refreshed view.
    cat.sql("ALTER TABLE d ADD CONSTRAINT nonneg CHECK (id >= 0)")
    assert d_store.constraints() == {"nonneg": "id >= 0"}
    with pytest.raises(Exception):  # constraint now enforced on writes
        cat.sql("INSERT INTO d VALUES (-1, 'x', 0)")
    cat.sql("ALTER TABLE d RENAME COLUMN val TO doubled")
    assert "doubled" in cat.sql("SELECT * FROM d").columns
    cat.sql("ALTER TABLE d DROP CONSTRAINT nonneg")
    cat.sql("ALTER TABLE d DROP COLUMN doubled")
    assert sorted(cat.sql("SELECT * FROM d").columns) == ["day", "id"]
    # Unsupported ALTER form on a registered name: clear error, no hijack.
    with pytest.raises(Exception):
        cat.sql("ALTER TABLE d SET TBLPROPERTIES ('x'='y')")


# -- round-9 review fixes (each pinned a silent-wrong-results hazard) --------


def test_extract_predicate_toplevel_or_disables_pruning(spark):
    """SQL precedence: A AND B OR C is (A AND B) OR C — extracting A as a
    standalone conjunct would prune files that only match C. A top-level
    OR must disable extraction entirely."""
    assert extract_predicate("day = 'd1' AND x = 1 OR day = 'd2'") == {}
    assert extract_predicate("id >= 5 OR id <= 2") == {}
    # Parenthesized OR inside a conjunct: other conjuncts still extract.
    p = extract_predicate("day = 'd1' AND (x = 1 OR x = 2)")
    assert p == {"day": "d1"}


def test_sql_delete_with_toplevel_or_deletes_all_branches(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    # 25 rows per day bucket; both OR branches must go.
    n = cat.sql(
        "DELETE FROM t WHERE day = '1' AND id < 200 OR day = '2'"
    ).first().affected_rows
    assert n == 50
    assert cat.sql("SELECT count(*) AS n FROM t WHERE day IN ('1','2')").first().n == 0


def test_extract_predicate_keeps_int64_exact(spark):
    big = 9007199254740993  # 2^53 + 1: float round-trips to ...992
    p = extract_predicate(f"id = {big}")
    assert p["id"] == big and isinstance(p["id"], int)


def test_sql_merge_conditional_delete_only_leaves_other_matches(spark, tmp_path):
    """WHEN MATCHED AND cond THEN DELETE with no UPDATE clause must not
    rewrite matched-but-not-deleted rows from the source."""
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    cat.sql(
        "MERGE INTO t USING ("
        " SELECT CAST(k AS BIGINT) AS id, CAST(k AS STRING) AS day,"
        "        CAST(0 AS BIGINT) AS val"
        " FROM VALUES (1), (2) v(k)"
        ") AS s ON t.id = s.id "
        "WHEN MATCHED AND s.id = 1 THEN DELETE"
    )
    # id=1 deleted; id=2 matched but NOT deleted and NOT updated (val
    # stays 4, not the source's 0).
    assert cat.sql("SELECT count(*) AS n FROM t WHERE id = 1").first().n == 0
    assert cat.sql("SELECT val FROM t WHERE id = 2").first().val == 4


def test_sql_merge_user_alias_t_does_not_collide(spark, tmp_path):
    """USING src AS t: the user's alias 't' must not be re-rewritten into
    the canonical source prefix by the second substitution phase."""
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("tgt", store=st, follow_head=True)
    # delete condition references BOTH sides; with the collision bug the
    # target operand flips to the source side and the wrong rows die.
    cat.sql(
        "MERGE INTO tgt USING ("
        " SELECT CAST(k AS BIGINT) AS id, CAST(99 AS BIGINT) AS val"
        " FROM VALUES (3), (4) v(k)"
        ") AS t ON tgt.id = t.id "
        "WHEN MATCHED AND tgt.val < t.val THEN DELETE"
    )
    # tgt.val for id 3,4 is 6,8 — both < 99 → both deleted.
    assert cat.sql("SELECT count(*) AS n FROM tgt WHERE id IN (3,4)").first().n == 0
    assert cat.sql("SELECT count(*) AS n FROM tgt").first().n == 98


def test_sql_dml_on_nonregistered_names_passes_through(spark, tmp_path):
    cat = LakeCatalog(spark)
    # Unknown simple and dotted names go to Spark's own parser/catalog,
    # which raises ITS error (not this router's shape/KeyError).
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        cat.sql("INSERT INTO nosuch_table VALUES (1)")
    with pytest.raises(
        Exception,
        match="TABLE_OR_VIEW_NOT_FOUND|REQUIRES_SINGLE_PART_NAMESPACE"
        "|cannot be found",
    ):
        cat.sql("DELETE FROM some.dotted.name WHERE x = 1")


def test_vacuum_rejects_keep_last_below_one(spark, tmp_path):
    st = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="keep_last must be >= 1"):
        st.vacuum(keep_last=0)
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    with pytest.raises(ValueError, match="keep_last must be >= 1"):
        cat.sql("VACUUM t RETAIN 0 VERSIONS")
    assert st.read().count() == 100  # table intact


def test_sql_insert_select_honors_follow_head_and_time_travel(spark, tmp_path):
    src = _mk(spark, tmp_path, name="src")
    dst = TableStore(spark, str(tmp_path / "dst"), key="id")
    dst.init(spark.range(0).selectExpr("id", "CAST(id AS STRING) AS day", "id AS val"))
    cat = LakeCatalog(spark)
    cat.register("src", store=src, follow_head=True)
    cat.register("dst", store=dst, follow_head=True)
    src.append(
        spark.range(100, 120).selectExpr(
            "id", "CAST(id % 4 AS STRING) AS day", "id * 2 AS val"
        )
    )  # direct store append AFTER registration
    n = cat.sql("INSERT INTO dst SELECT * FROM src").first().affected_rows
    assert n == 120  # sees the post-registration append (follow_head)
    n0 = cat.sql(
        "INSERT INTO dst SELECT * FROM src VERSION AS OF 0"
    ).first().affected_rows
    assert n0 == 100  # inline time travel works inside INSERT ... SELECT


def test_register_changes_rejects_follow_head(spark, tmp_path):
    st = _mk(spark, tmp_path, write_cdf=True)
    cat = LakeCatalog(spark)
    with pytest.raises(ValueError, match="follow_head"):
        cat.register("feed", store=st, changes=True, follow_head=True)


def test_time_travel_alias_reused_not_regrown(spark, tmp_path):
    st = _mk(spark, tmp_path)
    st.append(
        spark.range(100, 110).selectExpr(
            "id", "CAST(id % 4 AS STRING) AS day", "id * 2 AS val"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    before = len(cat._entries)
    for _ in range(3):
        assert (
            cat.sql("SELECT count(*) AS n FROM t VERSION AS OF 0").first().n
            == 100
        )
    assert len(cat._entries) == before + 1  # one alias, reused


def test_sql_insert_overwrite_full_replace(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    r = cat.sql(
        "INSERT OVERWRITE t SELECT id, day, val FROM t WHERE id < 7"
    ).first()
    assert (r.op, r.affected_rows) == ("INSERT OVERWRITE", 7)
    assert cat.sql("SELECT count(*) AS n FROM t").first().n == 7
    # History preserved: the pre-overwrite snapshot is still travelable.
    assert (
        cat.sql("SELECT count(*) AS n FROM t VERSION AS OF 0").first().n
        == 100
    )
    # INTO still appends.
    cat.sql("INSERT INTO t VALUES (500, 'x', 0)")
    assert cat.sql("SELECT count(*) AS n FROM t").first().n == 8


def test_extract_predicate_between_then_or_disables_pruning(spark):
    """BETWEEN's AND-swallowing must not consume a following OR: the
    top-level-OR guard has to see 'x BETWEEN a AND b OR c' as two parts."""
    assert (
        extract_predicate("day = '1' AND id BETWEEN 0 AND 10 OR day = '2'")
        == {}
    )
    # BETWEEN without OR still extracts, including after another conjunct.
    p = extract_predicate("day = '1' AND id BETWEEN 0 AND 10")
    assert p == {"day": "1", "id": (0, 10)}


def test_sql_delete_between_or_deletes_all_branches(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    n = cat.sql(
        "DELETE FROM t WHERE day = '1' AND id BETWEEN 0 AND 10 OR day = '2'"
    ).first().affected_rows
    # day='1' with id<=10: ids 1,5,9 → 3 rows; day='2': 25 rows.
    assert n == 28
    assert cat.sql("SELECT count(*) AS n FROM t WHERE day = '2'").first().n == 0


def test_sql_insert_overwrite_partial_collist_nullfills(spark, tmp_path):
    """Delta semantics: INSERT OVERWRITE with a column list NULL-fills the
    unlisted columns instead of silently dropping them from the schema."""
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    cat.sql("INSERT OVERWRITE t (id, day) SELECT id, day FROM t WHERE id < 5")
    out = cat.sql("SELECT * FROM t")
    assert sorted(out.columns) == ["day", "id", "val"]
    rows = out.collect()
    assert len(rows) == 5 and all(r.val is None for r in rows)


def test_sql_timestamp_as_of_at_head_reresolves(spark, tmp_path):
    """A TIMESTAMP AS OF at/after the newest commit resolves to the head
    NOW — after another commit lands, the same literal must re-resolve,
    not serve the cached first answer."""
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    future = "2099-01-01T00:00:00+00:00"
    q = f"SELECT count(*) AS n FROM t TIMESTAMP AS OF '{future}'"
    assert cat.sql(q).first().n == 100
    cat.sql("INSERT INTO t VALUES (900, 'z', 0)")
    assert cat.sql(q).first().n == 101


def test_unregister_drops_time_travel_aliases(spark, tmp_path):
    a = _mk(spark, tmp_path, name="a")
    b = TableStore(spark, str(tmp_path / "b"), key="id")
    b.init(spark.range(7).selectExpr("id", "'x' AS day", "id AS val"))
    cat = LakeCatalog(spark)
    cat.register("t", store=a)
    assert cat.sql("SELECT count(*) AS n FROM t VERSION AS OF 0").first().n == 100
    cat.unregister("t")
    assert not any(n.startswith("t__asof_") for n in cat.names())
    cat.register("t", store=b)
    # VERSION AS OF 0 now means store b's v0, not a stale alias to a's.
    assert cat.sql("SELECT count(*) AS n FROM t VERSION AS OF 0").first().n == 7


def test_sql_passthrough_insert_reads_follow_head(spark, tmp_path):
    """INSERT INTO a Spark-native table (not catalog-registered) still
    applies the catalog read contract to its SELECT body: follow_head
    names re-resolve and inline time travel rewrites."""
    src = _mk(spark, tmp_path, name="src")
    cat = LakeCatalog(spark)
    cat.register("src", store=src, follow_head=True)
    spark.sql("DROP TABLE IF EXISTS native_sink")
    spark.sql(
        "CREATE TABLE native_sink (id LONG, day STRING, val LONG) "
        f"USING parquet LOCATION '{tmp_path / 'native_sink'}'"
    )
    try:
        src.append(
            spark.range(100, 120).selectExpr(
                "id", "CAST(id % 4 AS STRING) AS day", "id * 2 AS val"
            )
        )
        cat.sql("INSERT INTO native_sink SELECT * FROM src")
        assert spark.table("native_sink").count() == 120  # saw the append
        cat.sql("INSERT INTO native_sink SELECT * FROM src VERSION AS OF 0")
        assert spark.table("native_sink").count() == 220
    finally:
        spark.sql("DROP TABLE IF EXISTS native_sink")


# -- statements the parser reads as Spark does ---------------------------------


def test_sql_trailing_line_comment_is_not_a_conjunct(spark, tmp_path):
    """Text after ``--`` is a comment: it must neither narrow the rows
    nor the file-skipping predicate."""
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    r = cat.sql(
        "UPDATE t SET val = -1 WHERE id = 1 -- AND day = '2'"
    ).first()
    assert r.affected_rows == 1
    assert {x.id for x in st.read().filter("val = -1").collect()} == {1}
    r = cat.sql("DELETE FROM t WHERE id = 5 -- AND day = '2'").first()
    assert r.affected_rows == 1
    assert st.read().filter("id = 5").count() == 0


def test_sql_block_comments_in_delete_merge_insert(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    r = cat.sql(
        "/* audit */ DELETE /* one */ FROM t WHERE /* row */ id = 3"
    ).first()
    assert r.affected_rows == 1
    cat.sql(
        "MERGE /* upsert */ INTO t USING (SELECT CAST(7 AS BIGINT) AS id, "
        "'m' AS day, CAST(70 AS BIGINT) AS val) /* src */ s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET /* all */ *"
    )
    r = cat.sql("INSERT /* load */ INTO t VALUES (900, 'i', 9)").first()
    assert r.affected_rows == 1
    rows = {x.id: (x.day, x.val) for x in st.read().collect()}
    assert 3 not in rows and rows[7] == ("m", 70) and rows[900] == ("i", 9)
    assert len(rows) == 100


def test_sql_update_set_backticks_and_where_inside_literal(spark, tmp_path):
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    assert cat.sql("UPDATE t SET `val` = 5 WHERE id = 2").first().affected_rows == 1
    r = cat.sql("UPDATE t SET day = 'x WHERE y' WHERE id = 3").first()
    assert r.affected_rows == 1
    rows = {x.id: (x.day, x.val) for x in st.read().collect()}
    assert rows[2] == ("2", 5) and rows[3] == ("x WHERE y", 6)
    assert rows[4] == ("0", 8)


def test_sql_boolean_literals_route(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "b"), key="id")
    st.init(spark.range(4).selectExpr("id", "id % 2 = 0 AS flag"))
    cat = LakeCatalog(spark)
    cat.register("b", store=st, follow_head=True)
    spark.sql("SELECT true, false").collect()  # parse TRUE/FALSE elsewhere first
    r = cat.sql("UPDATE b SET flag = false WHERE flag = true AND id < 2").first()
    assert r.affected_rows == 1
    cat.sql(
        "MERGE INTO b USING (SELECT CAST(3 AS BIGINT) AS id, true AS flag) s "
        "ON b.id = s.id WHEN MATCHED AND true THEN UPDATE SET *"
    )
    assert {x.id: x.flag for x in st.read().collect()} == {
        0: False, 1: False, 2: True, 3: True
    }


def test_sql_insert_and_merge_bodies_with_order_by_limit(spark, tmp_path):
    """The Sort/Limit nodes on top of a query carry only the ORDER BY /
    LIMIT text, and a FROM-first query's Project starts at SELECT; the
    INSERT and MERGE bodies are still the whole query."""
    st = _mk(spark, tmp_path)
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    r = cat.sql(
        "INSERT INTO t SELECT id + 1000, day, val FROM t WHERE id < 50 "
        "ORDER BY id DESC LIMIT 3"
    ).first()
    assert r.affected_rows == 3
    r = cat.sql("INSERT INTO t FROM t SELECT id + 2000, day, val WHERE id < 2").first()
    assert r.affected_rows == 2
    cat.sql(
        "MERGE INTO t USING (SELECT id, 'm' AS day, -val AS val FROM t "
        "WHERE id < 10 ORDER BY id LIMIT 2) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    rows = {x.id: (x.day, x.val) for x in st.read().collect()}
    assert {i for i in rows if i >= 1000} == {1047, 1048, 1049, 2000, 2001}
    assert rows[0] == ("m", 0) and rows[1] == ("m", -2) and rows[2] == ("2", 4)


def test_sql_quoted_column_with_comma(spark, tmp_path):
    """A quoted name part may hold ", " (how toJSON joins name parts):
    it stays one column in UPDATE SET, MERGE SET and a MERGE condition."""
    st = TableStore(spark, str(tmp_path / "c"), key="id")
    st.init(spark.range(4).selectExpr("id", "id * 10 AS `a, b`"))
    cat = LakeCatalog(spark)
    cat.register("c", store=st, follow_head=True)
    assert cat.sql("UPDATE c SET `a, b` = -1 WHERE id = 1").first().affected_rows == 1
    src = "(SELECT id, id * 100 AS `a, b` FROM range(4))"
    cat.sql(
        f"MERGE INTO c AS tgt USING {src} AS src ON tgt.id = src.id "
        "WHEN MATCHED AND src.`a, b` > 100 THEN UPDATE SET `a, b` = src.`a, b`"
    )
    cat.sql(
        f"MERGE INTO c AS tgt USING {src} AS src ON tgt.id = src.id "
        "WHEN MATCHED AND tgt.`a, b` < 0 THEN DELETE"
    )
    assert {x.id: x["a, b"] for x in st.read().collect()} == {0: 0, 2: 200, 3: 300}
