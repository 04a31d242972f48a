"""Round-11 ADVICE regression pins.

1. sqldml.py — ``_sql_literal`` escapes backslashes BEFORE quote-doubling:
   Spark's default parser processes backslash escapes in string literals,
   so 'a\\nb' used to round-trip to a newline and a trailing backslash made
   the rewritten WHERE unparseable (the inlined IN-list then targeted the
   wrong rows).
2. catalog.py — the TIMESTAMP AS OF alias FIFO never evicts an alias
   minted for the statement currently being rewritten: a single query with
   >8 distinct timestamps on one table used to drop a temp view its own
   rewritten SQL still referenced.
3. mutation/manifest.py — the abort handler's ``current_version()`` probe
   is retried and can no longer REPLACE the original exception: a transient
   pointer-read failure used to escape, skipping the claim release (slot
   wedged until orphan-grace stealing).
"""

from __future__ import annotations

import pytest

from lakehouse_spark.catalog import LakeCatalog
from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark.sqldml import _sql_literal


# -- 1. backslash-safe literals ------------------------------------------


@pytest.mark.parametrize(
    "val",
    [
        "a\\nb",            # would become a newline under escape processing
        "C:\\new\\table",   # the ADVICE repro
        "trailing\\",       # used to break the parse outright
        "mix'quote\\and\\'both",
        "\\\\double",
    ],
)
def test_sql_literal_backslash_roundtrip(spark, val):
    lit = _sql_literal(val)
    got = spark.sql(f"SELECT {lit} AS v").collect()[0].v
    assert got == val


def test_sql_literal_backslash_in_dml_where(spark, tmp_path):
    """End-to-end: a DELETE whose inlined IN-list carries backslash values
    must delete exactly those rows (not escape-mangled variants)."""
    st = TableStore(spark, str(tmp_path / "t"), key="k")
    st.init(
        spark.createDataFrame(
            [("C:\\new\\table", 1), ("a\\nb", 2), ("a\nb", 3), ("plain", 4)],
            "k string, x int",
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bslash", store=st)
    cat.sql(
        "DELETE FROM bslash WHERE k IN "
        "(SELECT k FROM bslash WHERE x IN (1, 2))"
    )
    left = {r.k for r in st.read().collect()}
    # The literal-backslash rows (x=1,2) are gone; the REAL-newline row
    # (x=3) — which the old escaping conflated with x=2 — survives.
    assert left == {"a\nb", "plain"}


# -- 2. >8 distinct timestamps in one statement ----------------------------


def test_many_timestamps_one_statement_no_self_evict(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "t"), key="id")
    st.init(spark.range(1).selectExpr("id"))
    ts = []
    for i in range(10):
        st.append(spark.range(100 + i, 101 + i).selectExpr("id"))
        ts.append(st.commit_timestamp(st.current_version()))
    import datetime as _dt

    iso = [
        _dt.datetime.fromtimestamp(t + 0.0005).isoformat() for t in ts
    ]
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    # One statement referencing 10 distinct timestamps of the same table:
    # every asof view must survive until execution.
    parts = [
        f"SELECT CAST(count(*) AS BIGINT) AS n FROM t TIMESTAMP AS OF '{s}'"
        for s in iso
    ]
    q = " UNION ALL ".join(parts)
    rows = [r.n for r in cat.sql(q).collect()]
    assert rows == list(range(2, 12))
    # The NEXT statement drains the fifo back under the cap.
    cat.sql(f"SELECT * FROM t TIMESTAMP AS OF '{iso[-1]}'").collect()
    assert len(cat._ts_aliases["t"]) <= 8


# -- 3. abort-path pointer probe ------------------------------------------


def test_abort_probe_failure_keeps_original_error_and_releases_slot(
    spark, tmp_path
):
    st = TableStore(spark, str(tmp_path / "t"), key="id")
    st.init(spark.range(5).selectExpr("id"))

    real_cv = type(st).current_version
    calls = {"poison": 0}

    class Boom(RuntimeError):
        pass

    def flaky_cv(self):
        # Fail the abort handler's first probe attempts (transient OSError
        # shape); the retry loop must recover and still release the claim.
        if calls["poison"] > 0:
            calls["poison"] -= 1
            raise OSError("transient pointer read failure")
        return real_cv(self)

    def exploding_make(v):
        calls["poison"] = 2  # poison the NEXT two current_version reads
        raise Boom("segment build failed")

    st.current_version = flaky_cv.__get__(st)
    try:
        with pytest.raises(Boom):
            st._transact(exploding_make)
    finally:
        del st.current_version
    # Slot released: a follow-up append commits cleanly at the same slot.
    v0 = st.current_version()
    st.append(spark.range(10, 12).selectExpr("id"))
    assert st.current_version() == v0 + 1
    assert st.read().count() == 7


# -- round-11 mid-round code-review findings -------------------------------


def test_inline_subquery_backslash_nonkey_route(spark, tmp_path):
    """The literal READER half (extract_predicate._literal) must decode
    backslash escapes exactly as Spark's parser does — the non-key inline
    IN-subquery route feeds both the stats/bloom pruning dict and the
    row-exact predicate conjunct from it. A one-sided fix deleted 0 rows
    (the conjunct never matched) while reporting success."""
    st = TableStore(
        spark, str(tmp_path / "t"), key="k", stats_cols=("k", "c")
    )
    st.init(
        spark.createDataFrame(
            [("r1", "C:\\new\\table", 1), ("r2", "a\nb", 2), ("r3", "p", 3)],
            "k string, c string, x int",
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bsnk", store=st)
    # c is NOT the key, so the subquery inlines to literals.
    out = cat.sql(
        "DELETE FROM bsnk WHERE c IN (SELECT c FROM bsnk WHERE x = 1)"
    )
    assert out.collect()[0].affected_rows == 1
    assert {r.k for r in st.read().collect()} == {"r2", "r3"}


def test_user_written_backslash_escape_in_where(spark, tmp_path):
    """User-written WHERE with a backslash escape: Spark decodes 'a\\nb'
    to a newline; the extracted predicate must compare the DECODED value
    or the row filter and pruning miss the row."""
    st = TableStore(spark, str(tmp_path / "t"), key="k", stats_cols=("c",))
    st.init(
        spark.createDataFrame(
            [("r1", "a\nb"), ("r2", "plain")], "k string, c string"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bsuw", store=st)
    out = cat.sql("DELETE FROM bsuw WHERE c = 'a\\nb'")
    assert out.collect()[0].affected_rows == 1
    assert {r.k for r in st.read().collect()} == {"r2"}


def test_escaped_string_literals_conf_respected(spark, tmp_path):
    """Under spark.sql.parser.escapedStringLiterals=true, backslashes are
    literal: the inline writer must NOT double them and the reader must
    NOT decode them."""
    st = TableStore(spark, str(tmp_path / "t"), key="k")
    st.init(
        spark.createDataFrame(
            [("C:\\x", 1), ("Cx", 2)], "k string, x int"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bsel", store=st)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        # x (NOT the key) forces the inline-literal route — the key route
        # semi-joins frames and never touches _sql_literal/_literal, so a
        # key-column subquery would not exercise the conf handling at all.
        out = cat.sql(
            "DELETE FROM bsel WHERE k IN (SELECT k FROM bsel WHERE x = 1) "
            "AND x = 1"
        )
        assert out.collect()[0].affected_rows == 1
        assert {r.k for r in st.read().collect()} == {"Cx"}
        # And a direct literal comparison on the raw-backslash value.
        st2 = TableStore(spark, str(tmp_path / "t2"), key="k")
        st2.init(
            spark.createDataFrame(
                [("a\\nb",), ("a\nb",)], "k string"
            )
        )
        cat.register("bsel2", store=st2)
        out2 = cat.sql(
            "DELETE FROM bsel2 WHERE k IN "
            "(SELECT k FROM bsel2 WHERE length(k) = 4) AND length(k) >= 0"
        )
        # Under escapedStringLiterals=true the 4-char value is the
        # literal-backslash 'a\nb'; it round-trips unchanged and is the
        # row deleted — the REAL-newline row survives.
        assert out2.collect()[0].affected_rows == 1
        assert {r.k for r in st2.read().collect()} == {"a\nb"}
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_prune_miss_memoized(spark, tmp_path):
    """A table with no sharded checkpoint must not re-walk the manifest
    chain per DML statement: the None result is memoized until a version
    where a new checkpoint could exist."""
    from lakehouse_spark.mutation import manifest as M

    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(10).selectExpr("id", "id AS x"))
    for lo in (10, 20):
        st.append(spark.range(lo, lo + 10).selectExpr("id", "id AS x"))
    calls = {"n": 0}
    real = M.load_snapshot_pruned

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    M.load_snapshot_pruned = counting
    try:
        st._snap_cache = {}
        st._head = None
        for _ in range(4):
            st._dml_manifest(st.current_version(), {"id": (5, 6)})
    finally:
        M.load_snapshot_pruned = real
    assert calls["n"] == 1  # walked once, memoized after


def test_overwrite_after_empty_resets_schema_scalar(spark, tmp_path):
    """Full replace of a ZERO-segment table must still reset the schema
    scalar (no phantom columns from the pre-empty history)."""
    st = TableStore(spark, str(tmp_path / "t"), key="id")
    st.init(spark.range(3).selectExpr("id", "id AS z"))
    st.overwrite(spark.range(2).selectExpr("id", "id AS w"))
    v = st.current_version()
    names = [f["name"] for f in st._snapshot(v)["schema"]["fields"]]
    assert names == ["id", "w"]


def test_ts_alias_surplus_drains_on_next_statement_any_table(
    spark, tmp_path
):
    """A >8-timestamp statement's surplus aliases drain on the NEXT
    rewritten statement even when it touches a different table."""
    import datetime as _dt

    a = TableStore(spark, str(tmp_path / "a"), key="id")
    a.init(spark.range(1).selectExpr("id"))
    ts = []
    for i in range(10):
        a.append(spark.range(100 + i, 101 + i).selectExpr("id"))
        ts.append(a.commit_timestamp(a.current_version()))
    iso = [_dt.datetime.fromtimestamp(t + 0.0005).isoformat() for t in ts]
    b = TableStore(spark, str(tmp_path / "b"), key="id")
    b.init(spark.range(2).selectExpr("id"))
    cat = LakeCatalog(spark)
    cat.register("ta", store=a)
    cat.register("tb", store=b)
    q = " UNION ALL ".join(
        f"SELECT CAST(count(*) AS BIGINT) AS n FROM ta TIMESTAMP AS OF '{s}'"
        for s in iso
    )
    cat.sql(q).collect()
    assert len(cat._ts_aliases["ta"]) == 10
    # A plain statement on ANOTHER table drains the surplus.
    cat.sql("SELECT * FROM tb").collect()
    assert len(cat._ts_aliases["ta"]) <= 8


def test_unicode_and_octal_escapes_in_where(spark, tmp_path):
    """Spark decodes \\uXXXX (4 hex) and \\0DD/\\1DD octal escapes in
    string literals; the extracted predicate must match (probed semantics:
    '\\u0041' -> 'A', '\\101' -> 'A', '\\377' stays undecoded)."""
    st = TableStore(spark, str(tmp_path / "t"), key="k", stats_cols=("c",))
    st.init(
        spark.createDataFrame(
            [("r1", "A"), ("r2", "B")], "k string, c string"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("besc", store=st)
    bs = chr(92)
    out = cat.sql(f"DELETE FROM besc WHERE c = '{bs}u0041'")
    assert out.collect()[0].affected_rows == 1
    assert {r.k for r in st.read().collect()} == {"r2"}
    st2 = TableStore(spark, str(tmp_path / "t2"), key="k", stats_cols=("c",))
    st2.init(
        spark.createDataFrame(
            [("r1", "A"), ("r2", "B")], "k string, c string"
        )
    )
    cat.register("besc2", store=st2)
    out2 = cat.sql(f"DELETE FROM besc2 WHERE c = '{bs}101'")
    assert out2.collect()[0].affected_rows == 1
    assert {r.k for r in st2.read().collect()} == {"r2"}


def test_pre_scalar_table_append_does_not_poison_schema(spark, tmp_path):
    """A pre-round-11 table (schema scalar None) appending a SUBSET frame
    must NOT seed the scalar from that subset — later targeted DML would
    align rewrites to it and physically drop the other columns."""
    import json as _json
    import os as _os

    root = str(tmp_path / "t")
    st = TableStore(spark, root, key="id", stats_cols=("id",))
    st.init(spark.range(10).selectExpr("id", "id AS a", "id AS b"))
    # Simulate a pre-scalar table: strip the scalar from the manifest.
    p = _os.path.join(root, "_manifest_000000.json")
    with open(p) as f:
        doc = _json.load(f)
    doc.pop("schema", None)
    with open(p, "w") as f:
        _json.dump(doc, f)
    st = TableStore(spark, root, key="id", stats_cols=("id",))
    # Subset append (allowed: missing columns read as null).
    st.append(spark.range(10, 12).selectExpr("id"))
    assert st._snapshot(st.current_version())["schema"] is None
    # Targeted delete must preserve a and b in the rewritten segment.
    st.delete_keys(spark.range(0, 1).selectExpr("id"))
    assert st._snapshot(st.current_version())["schema"] is None
    rows = {(r.id, r.a, r.b) for r in st.read().collect()}
    assert (5, 5, 5) in rows and (11, None, None) in rows
    assert len(rows) == 11


def test_escaped_literals_delete_exactly_sparks_rows(spark, tmp_path):
    """A WHERE's string escapes (an astral surrogate pair, a lone
    surrogate half, a malformed \\u) select exactly the rows Spark's own
    filter selects, with stats pruning on; a literal whose value cannot
    round-trip into the stats predicate (binary) is not extracted."""
    from lakehouse_spark.sqldml import extract_predicate

    bs = chr(92)
    rows = [("r1", chr(0x1F600)), ("r2", "plain"), ("r3", "?"),
            ("r4", "u 041"), ("r5", "A")]
    wheres = [f"c = '{bs}uD83D{bs}uDE00'", f"c = '{bs}uDE00'",
              f"c = '{bs}u 041'", f"c = '{bs}u0041'"]
    for i, where in enumerate(wheres):
        st = TableStore(spark, str(tmp_path / f"t{i}"), key="k", stats_cols=("c",))
        st.init(spark.createDataFrame(rows, "k string, c string"))
        want = {r.k for r in st.read().filter(where).collect()}
        assert want, where
        cat = LakeCatalog(spark)
        cat.register("besc", store=st)
        out = cat.sql(f"DELETE FROM besc WHERE {where}")
        assert out.collect()[0].affected_rows == len(want)
        assert {r.k for r in st.read().collect()} == {r[0] for r in rows} - want
    assert extract_predicate("b = X'0A' AND k = 'r1'") == {"k": "r1"}
