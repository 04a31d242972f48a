"""SQL DML routing for :class:`~lakehouse_spark.catalog.LakeCatalog`.

``cat.sql("DELETE FROM events WHERE day = 'd1'")`` on a registered
TableStore name commits through that store's transactional DML (temp
views are not writable in Spark), as the reference mutates every entity
by name through its API (amplifier_library/sessions/manager.py).

The grammar is Spark's own: each statement is parsed once by the
session's SQL parser, read back with one ``toJSON()`` call and routed on
the plan node. Text the store needs (the WHERE, SET values, MERGE
conditions, subquery bodies) is sliced from the statement at the parser's
recorded origin of the node that carries it (for a query body, the
earliest origin in its plan), so quoting, comments and nesting are the
parser's business.

- ``InsertIntoStatement`` (``INSERT INTO|OVERWRITE [TABLE] name [(cols)]
  VALUES ... | SELECT ... | TABLE src``) → ``append`` / ``overwrite``
  (full replace; unlisted columns NULL-filled). PARTITION and BY NAME
  raise.
- ``DeleteFromTable`` → ``delete_where``; no WHERE (or WHERE TRUE) raises.
- ``UpdateTable`` (``SET col = expr, ...``) → ``update``.
- ``MergeIntoTable`` → ``merge`` for ``USING name | (subquery) ON
  t.<key> = s.<key>`` with ``WHEN MATCHED [AND cond] THEN DELETE | UPDATE
  SET * | UPDATE SET c = s.c, ...`` and ``WHEN NOT MATCHED THEN INSERT
  *``; other ON, actions or clauses raise.

The WHERE's prunable conjuncts (``col = lit``, ``col >=/<=/>/< lit``,
``col BETWEEN a AND b``, ``col IN (lits)``) also become the store's
stats-predicate dict, so file skipping works as through the Python API.
``x [NOT] IN (SELECT ...)`` and ``[NOT] EXISTS (SELECT ...)`` may stand
anywhere under AND/OR; their bodies run through the catalog (follow_head
and inline time travel apply). A positive IN-subquery conjunct on the
table key routes to ``delete_keys`` / ``update(keys=...)``; other
subqueries are inlined as bounded literal lists or folded to TRUE/FALSE.
Other subquery shapes raise with directions. Dotted or unregistered
targets, and statements that parse into other nodes, go to ``spark.sql``.

Each route commits through the store's optimistic transaction (CDF rows
identical to the Python call), refreshes the view (pinned registrations
are never mutable) and returns one ``(op, table, affected_rows)`` row,
-1 where the store reports no count.

Delta's maintenance statements (is_util / route_util: DESCRIBE
HISTORY|DETAIL, VACUUM, OPTIMIZE, RESTORE, ALTER TABLE column/constraint
forms, CTAS with KEY/LOCATION) are not in Spark's grammar, so each keeps a
one-statement pattern. SELECT-side time travel is
catalog._rewrite_time_travel.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DML_HEAD = re.compile(
    r"^\s*(?:(?:--[^\n]*(?:\n|$)|/\*.*?\*/)\s*)*(INSERT|UPDATE|DELETE|MERGE)\b",
    re.I | re.S,
)
_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def is_dml(query: str) -> bool:
    return bool(_DML_HEAD.match(query))


# -- the parsed statement ------------------------------------------------------


def _parse(spark, text: str, expression: bool = False):
    """``(tree, jvm_node)`` for one statement (or one expression): the
    nested-dict form of the parser's unresolved plan and the py4j handle
    that origins are read from."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    node = parser.parseExpression(text) if expression else parser.parsePlan(text)
    return _tree(json.loads(node.toJSON())), node


def _tree(flat: list) -> dict:
    """Nest ``TreeNode.toJSON``'s pre-order node list: each node's
    children go under ``"kids"``, in order (the same order as the JVM
    node's ``children()``)."""
    nodes = iter(flat)

    def build() -> dict:
        n = next(nodes)
        n["kids"] = [build() for _ in range(n["num-children"])]
        return n

    return build()


def _cls(n: dict) -> str:
    return n["class"].rsplit(".", 1)[1]


def _parts(v) -> list[str]:
    """A name's parts as toJSON writes a Seq[String]: ``"[t, col]"``."""
    return v[1:-1].split(", ") if isinstance(v, str) else list(v)


def _name(n: dict, j=None) -> list[str]:
    """A column reference's name parts; [] for any other expression.
    toJSON joins the parts with ", ", so a quoted part that holds ", "
    (`a, b`) reads as two; given ``j``, the node's py4j handle, a
    multi-part name is read exactly (callers pass it when the statement
    has a backtick, the only way to quote such a part)."""
    if _cls(n) != "UnresolvedAttribute":
        return []
    parts = _parts(n["nameParts"])
    if j is not None and len(parts) > 1:
        jparts = j.nameParts()
        parts = [jparts.apply(i) for i in range(jparts.size())]
    return parts


def _column(n: dict, j=None) -> str | None:
    """The column an unqualified attribute names, else None."""
    parts = _name(n, j)
    return parts[0] if len(parts) == 1 else None


# Expression nodes whose recorded origin covers exactly their own text. A
# predicate's origin starts at its keyword (IN, BETWEEN, LIKE, IS ...),
# after its left operand, so other nodes extend to their first child. The
# inner AND/OR nodes of a chain are the exception (see _render).
_WHOLE_SPAN = {
    "And", "Or", "EqualTo", "LessThan", "LessThanOrEqual", "GreaterThan",
    "GreaterThanOrEqual", "UnresolvedAttribute", "Literal",
}


def _is_bool(n: dict) -> bool:
    # TRUE and FALSE parse to shared singleton literals, whose origin
    # points into whichever statement first created them.
    return _cls(n) == "Literal" and n["dataType"] == "boolean"


def _span(jnode, node: dict | None = None) -> tuple[int, int]:
    """``[start, stop)`` of the statement text the parser recorded for a
    node; pass the expression's ``node`` dict to cover a predicate's left
    operand. A wrapper's origin can span more than its own text (the
    MERGE source's SubqueryAlias and an EXISTS inherit the enclosing
    clause's), so callers take the span of the node that holds the text."""
    ctx = jnode.origin().context()
    start, stop = ctx.startIndex(), ctx.stopIndex() + 1
    if node and node["kids"] and _cls(node) not in _WHOLE_SPAN:
        first = node["kids"][0]
        if not _is_bool(first):
            start = min(start, _span(jnode.children().apply(0), first)[0])
    return start, stop


def _text(q: str, jnode, node: dict | None = None) -> str:
    if node and _is_bool(node):
        return node["value"]
    start, stop = _span(jnode, node)
    return q[start:stop]


def _query_text(q: str, jplan, plan: dict) -> str:
    """A query's text. The top node's origin can cover only its trailing
    clauses (the Sort/Limit nodes of ORDER BY and LIMIT carry just those),
    so the text starts at the earliest origin down the first-child chain.
    In a FROM-first query that is the relation after the FROM keyword,
    which no node's origin covers."""
    start, stop = _span(jplan)
    while plan["kids"]:
        plan, jplan = plan["kids"][0], jplan.children().apply(0)
        first = _span(jplan)[0]
        if first >= 0:  # -1: a node built without an origin
            start = min(start, first)
    from_first = re.search(r"\bFROM\s+\Z", q[:start], re.I)
    return q[from_first.start() if from_first else start : stop]


def _child(jnode, path: tuple[int, ...]):
    for i in path:
        jnode = jnode.children().apply(i)
    return jnode


def _render(q: str, jnode, node: dict, subst: dict, path: tuple = ()) -> str:
    """A condition's text with the subtree at each path in ``subst``
    replaced by the given SQL. AND/OR nodes are rebuilt from their
    operands (parenthesized) and only the other terms are sliced from the
    statement: the parser builds a chain ``a AND b AND c`` as a balanced
    tree whose inner nodes all carry the whole chain's origin."""
    if path in subst:
        return subst[path]
    if _cls(node) not in ("And", "Or"):
        return _text(q, jnode, node)
    op = f" {_cls(node).upper()} "
    return op.join(
        f"({_render(q, jnode.children().apply(i), k, subst, path + (i,))})"
        for i, k in enumerate(node["kids"])
    )


def _target(plan: dict) -> str | None:
    """The single-part table name a DML plan writes, else None."""
    t = plan.get("table", plan.get("targetTable"))
    if t is None:
        return None
    t = plan["kids"][t] if isinstance(t, int) else _tree(t)
    while _cls(t) == "SubqueryAlias":
        t = t["kids"][0]
    if _cls(t) != "UnresolvedRelation":
        return None
    parts = _parts(t["multipartIdentifier"])
    return parts[0] if len(parts) == 1 else None


# -- WHERE analysis ------------------------------------------------------------


def _conjuncts(n: dict, path: tuple[int, ...] = ()) -> list:
    """``(path, node)`` of each top-level AND term of a condition."""
    if _cls(n) != "And":
        return [(path, n)]
    return [c for i, k in enumerate(n["kids"]) for c in _conjuncts(k, path + (i,))]


_INT_TYPES = ("integer", "long", "short", "byte")
_RANGE_SIDE = {"GreaterThanOrEqual": "lo", "GreaterThan": "lo",
               "LessThanOrEqual": "hi", "LessThan": "hi"}


def _value(n: dict):
    """A literal in the store-predicate value domain: numbers, strings,
    and DATE/TIMESTAMP literals as their text (how the manifest stores
    partition values). The parser has already decoded the literal under
    the session's ``escapedStringLiterals`` setting, so the value is
    exactly what Spark compares. None for anything else (NULL, booleans,
    binary, intervals, expressions): not extracted."""
    if _cls(n) != "Literal" or n["value"] is None:
        return None
    t, v = n["dataType"], n["value"]
    if t in _INT_TYPES:
        return int(v)
    if t.startswith("decimal"):
        # Scale-0 decimals (integers past the long range) stay exact ints.
        return int(v) if v.lstrip("-").isdigit() else float(v)
    if t in ("double", "float"):
        return float(v)
    return v if t in ("string", "date", "timestamp", "timestamp_ntz") else None


def _predicate(conjuncts) -> dict:
    """Prunable conjuncts as the store's stats-predicate dict — best-effort
    and conservative: a conjunct of any other shape is not extracted (the
    DML path re-applies the full WHERE row-exactly, so extraction can only
    skip more files, never change results). Strict bounds widen to closed
    ones for the same reason. A top-level OR is one conjunct of no simple
    shape, so ``A AND B OR C`` — ``(A AND B) OR C`` — extracts nothing."""
    out: dict = {}

    def _merge_range(col: str, lo=None, hi=None):
        cur = out.get(col)
        cur_lo, cur_hi = cur if isinstance(cur, tuple) else (None, None)
        if lo is not None:
            cur_lo = lo if cur_lo is None else max(cur_lo, lo)
        if hi is not None:
            cur_hi = hi if cur_hi is None else min(cur_hi, hi)
        out[col] = (cur_lo, cur_hi)

    for n in conjuncts:
        c, kids = _cls(n), n["kids"]
        col = _column(kids[0]) if kids else None
        vals = [_value(k) for k in kids[1:]]
        if col is None or not vals or None in vals:
            continue
        if c == "EqualTo" or c in _RANGE_SIDE:
            if col in out and not isinstance(out[col], tuple):
                continue  # already an IN/equality; keep the tighter form
            if c == "EqualTo":
                out.setdefault(col, vals[0])
            else:
                _merge_range(col, **{_RANGE_SIDE[c]: vals[0]})
        elif c == "UnresolvedFunction" and n["nameParts"] == "[between]":
            _merge_range(col, lo=vals[0], hi=vals[1])
        elif c == "In" and col not in out:
            out[col] = vals
    return out


def extract_predicate(where: str) -> dict:
    """Prunable conjuncts of a WHERE clause (see :func:`_predicate`),
    parsed by the active session's SQL parser."""
    cond, _ = _parse(SparkSession.active(), where, expression=True)
    return _predicate(n for _, n in _conjuncts(cond))


_SUBQUERY = ("InSubquery", "Exists")


def _has_subquery(n: dict) -> bool:
    return "plan" in n or any(_has_subquery(k) for k in n["kids"])


def _subquery_terms(n: dict, path: tuple[int, ...] = ()) -> list:
    """``(path, term, subquery)`` of each ``x [NOT] IN (SELECT ...)`` /
    ``[NOT] EXISTS (SELECT ...)`` reachable from the condition's root
    through AND/OR only; ``term`` is the NOT when negated, else the
    subquery node itself. Any other subquery raises (never misroutes)."""
    c = _cls(n)
    if c in ("And", "Or"):
        return [
            t for i, k in enumerate(n["kids"]) for t in _subquery_terms(k, path + (i,))
        ]
    neg = c == "Not" and _cls(n["kids"][0]) in _SUBQUERY
    sub = n["kids"][0] if neg else n
    # InSubquery's children are its values then the ListQuery: one value.
    if _cls(sub) in _SUBQUERY and len(sub["kids"]) <= 2:
        return [(path, n, sub)]
    if _has_subquery(n):
        raise ValueError(
            "unsupported subquery shape in WHERE; supported: x [NOT] IN "
            "(SELECT ...) and [NOT] EXISTS (SELECT ...) combined with "
            "AND/OR (scalar subqueries, and subqueries under NOT or "
            "inside expressions, are not)"
        )
    return []


# -- routing -------------------------------------------------------------------


def _result(spark, op: str, table: str, affected: int) -> DataFrame:
    return spark.createDataFrame(
        [(op, table, affected)],
        "op string, table string, affected_rows long",
    )


def _writable_store(cat, name: str):
    store, opts = cat._entry(name)
    if store is None:
        raise ValueError(
            f"{name!r} is a DataFrame/testdata view — SQL DML needs a "
            "TableStore-backed registration (register(name, store=...))"
        )
    if opts.get("version") is not None or opts.get("as_of") is not None:
        raise ValueError(
            f"{name!r} is pinned to an explicit version/as_of snapshot; "
            "DML through a time-travel view would edit history — register "
            "the head (no version=) to mutate"
        )
    if opts.get("changes"):
        raise ValueError(f"{name!r} is a change-feed view; it is read-only")
    return store


def _refresh_after(cat, name: str) -> None:
    try:
        cat.refresh(name)
    except Exception:
        pass  # view refresh is a convenience; the commit already landed


def route(cat, query: str) -> DataFrame:
    """Dispatch one DML statement against the catalog. ``cat`` is the
    LakeCatalog (gives name→store resolution and the SparkSession)."""
    plan, jplan = _parse(cat.spark, query)
    name = _target(plan)
    if name not in cat._entries:
        # Dotted names, unknown identifiers and target-less statements
        # belong to Spark's own catalog. The pre-passes still apply: a
        # Spark-native INSERT target can SELECT from registered
        # follow_head / time-travel names, and those reads keep the same
        # contract as any other cat.sql read.
        cat._refresh_followers(query)
        return cat.spark.sql(cat._rewrite_time_travel(query))
    handler = _ROUTES.get(_cls(plan))
    if handler is None:
        raise ValueError(
            f"unsupported statement on {name!r}: supported are INSERT "
            "INTO|OVERWRITE <name> [(cols)] VALUES ... | SELECT ..., "
            "UPDATE <name> SET ..., DELETE FROM <name> WHERE ... and MERGE "
            "INTO <name> ... (see lakehouse_spark.sqldml)"
        )
    return handler(cat, query, plan, jplan, name)


def _insert(cat, q: str, plan: dict, jplan, name: str) -> DataFrame:
    if plan["byName"] or not jplan.partitionSpec().isEmpty():
        raise ValueError(
            "unsupported INSERT shape; use INSERT INTO|OVERWRITE <name> "
            "[(cols)] VALUES (...) | SELECT ..."
        )
    store = _writable_store(cat, name)
    spark = cat.spark
    body = plan["kids"][0]
    text = _query_text(q, jplan.query(), body)
    if _cls(body) in ("LocalRelation", "UnresolvedInlineTable"):
        src = spark.sql(f"SELECT * FROM {text}")
    else:
        # Through cat.sql, not raw spark.sql: the SELECT body then gets
        # follow_head re-resolution and inline VERSION/TIMESTAMP AS OF,
        # the same contract every read through the catalog has.
        is_table = _cls(body) == "UnresolvedRelation"  # INSERT ... TABLE src
        src = cat.sql(f"SELECT * FROM {text}" if is_table else text)
    tschema = store.read().schema  # one plan build serves columns + types
    collist = []
    if plan["userSpecifiedCols"]:
        cols = jplan.userSpecifiedCols()
        collist = [cols.apply(i) for i in range(cols.size())]
    target = collist or list(tschema.names)
    # An explicit column list must name real table columns (Delta raises
    # an analysis error for unknown INSERT columns). Without this, the
    # OVERWRITE null-fill's final `.select(*tschema.names)` would
    # silently DROP the unknown column's data instead of erroring.
    unknown = [c for c in target if c not in tschema.names]
    if collist and unknown:
        raise ValueError(
            f"INSERT column list names column(s) not in {name}'s schema: "
            f"{unknown}; table columns are {list(tschema.names)}"
        )
    if len(src.columns) != len(target):
        raise ValueError(
            f"INSERT provides {len(src.columns)} column(s) but the target "
            f"list has {len(target)}: {target}"
        )
    src = src.toDF(*target)
    # Store-assignment casts (INSERT adapts values to the table schema;
    # genuinely incompatible types still fail the append's enforcement).
    ttypes = {f.name: f.dataType for f in tschema}
    src = src.select(
        *[
            F.col(c).cast(ttypes[c]).alias(c) if c in ttypes else F.col(c)
            for c in src.columns
        ]
    )
    overwrite = plan["overwrite"]
    if overwrite:
        # NULL-fill unlisted table columns (Delta's INSERT OVERWRITE with
        # a column list): overwrite() is full CREATE OR REPLACE, so a
        # partial column list would otherwise silently DROP every
        # unlisted column from the table schema. Appends don't need this
        # — a narrow segment null-fills at read time by schema union.
        missing = [c for c in tschema.names if c not in src.columns]
        if missing:
            src = src.select(
                "*",
                *[
                    F.lit(None).cast(ttypes[c]).alias(c) for c in missing
                ],
            ).select(*tschema.names)
    src = src.persist()
    try:
        n = src.count()
        if overwrite:
            # Full-replace semantics (Delta's INSERT OVERWRITE without a
            # partition spec): the new version holds exactly the source.
            store.overwrite(src)
        else:
            store.append(src)
    finally:
        src.unpersist()
    _refresh_after(cat, name)
    return _result(spark, "INSERT OVERWRITE" if overwrite else "INSERT", name, n)


# Above this many distinct subquery values the inline rewrite would hand
# Catalyst a giant literal IN-list (and collect them all to the driver
# first) — the scale path for key-set deletes is delete_keys, which joins
# the frame distributed.
_SUBQ_INLINE_CAP = 10_000


def _backslash_escapes_on(spark) -> bool:
    """Whether Spark's parser processes backslash escapes in string
    literals (the default, escapedStringLiterals=false). The literal
    writer (_sql_literal) must follow it, or a DML over backslash-bearing
    strings targets the wrong rows."""
    conf = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    return str(conf).lower() != "true"


def _sql_literal(v, backslash_escapes: bool = True) -> str:
    """A Python value (as collected from a subquery row) back to a SQL
    literal for the inline rewrite. Strings escape quotes; temporal types
    use typed literals so comparisons keep their semantics.
    ``backslash_escapes`` mirrors the session parser (see
    _backslash_escapes_on): double backslashes only when the parser will
    process them back."""
    import datetime as _dt
    import decimal as _dec

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # repr() of non-finite floats ('nan'/'inf') reads as a column
        # identifier in SQL — use the typed cast Spark parses (and which
        # keeps Spark's NaN-equals-NaN IN semantics).
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, _dec.Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    # Spark's default parser (escapedStringLiterals=false) interprets
    # backslash escapes inside string literals, so a raw backslash must be
    # doubled BEFORE quote-doubling — otherwise 'a\nb' round-trips to a
    # newline and a trailing backslash makes the rewritten WHERE
    # unparseable. Under escapedStringLiterals=true backslashes are
    # literal and must NOT be doubled.
    s = str(v)
    if backslash_escapes:
        s = s.replace("\\", "\\\\")
    s = s.replace("'", "''")
    return f"'{s}'"


def _in_subquery(cat, q: str, jsub, sub: dict) -> DataFrame:
    """An IN-subquery's body through the catalog (follow_head and inline
    time travel apply); it must return one column."""
    body = _tree(sub["kids"][-1]["plan"])
    df = cat.sql(_query_text(q, jsub.query().plan(), body))
    if len(df.columns) != 1:
        raise ValueError(
            f"IN subquery must return exactly one column, got {df.columns}"
        )
    return df


def _eval_exists(cat, subsql: str) -> bool:
    try:
        return cat.sql(subsql).limit(1).count() > 0
    except Exception as ex:  # noqa: BLE001 — add routing context
        # Only blame correlation when the failure IS an unresolved
        # column — a typo'd table or bad syntax should surface as
        # itself, not steer the user into rewriting a valid condition.
        s = str(ex)
        hint = (
            " (likely a correlated subquery, which is not supported — "
            "rewrite the condition as col IN (SELECT ...))"
            if "UNRESOLVED_COLUMN" in s or "cannot resolve" in s.lower()
            else ""
        )
        raise ValueError(
            "EXISTS subquery failed to evaluate independently: "
            f"{type(ex).__name__}: {s.splitlines()[0][:200]}{hint}"
        ) from ex


def _in_literal(col: str, vals: list, neg: bool, bs: bool) -> str:
    """The literal form of ``col [NOT] IN (<vals>)``."""
    if not neg:
        vals = [v for v in vals if v is not None]  # NULL never IN-matches
        if not vals:
            return "FALSE"
        return f"{col} IN ({', '.join(_sql_literal(v, bs) for v in vals)})"
    if any(v is None for v in vals):
        # x NOT IN (set containing NULL) is never TRUE (NULL or FALSE for
        # every x) — Delta/Spark's documented NOT IN semantics.
        return "FALSE"
    if not vals:
        return "TRUE"  # NOT IN over an EMPTY set is TRUE for every x
    lits = ", ".join(_sql_literal(v, bs) for v in vals)
    return f"({col} IS NOT NULL AND {col} NOT IN ({lits}))"


def _inline_subqueries(cat, q: str, jcond, cond: dict, terms: list, top: set):
    """The WHERE text with every subquery term replaced by its literal
    form — IN-subqueries become IN-lists (so extract_predicate recovers
    file skipping and the store re-applies the condition row-exactly),
    EXISTS folds to TRUE/FALSE — or None when a top-level conjunct (path
    in ``top``) folded to FALSE, so no row can match.

    Each term sits under AND/OR only (_subquery_terms), where FALSE may
    stand for SQL's NULL (x IN a NULL-bearing set): AND/OR never turn a
    NULL operand into a TRUE result that FALSE would not also give."""
    bs = _backslash_escapes_on(cat.spark)
    subst = {}
    for path, term, sub in terms:
        neg = term is not sub
        jsub = _child(jcond, path)
        jsub = jsub.child() if neg else jsub
        if _cls(sub) == "Exists":
            body = _query_text(q, jsub.plan(), _tree(sub["plan"]))
            subst[path] = "TRUE" if _eval_exists(cat, body) != neg else "FALSE"
        else:
            col = _text(q, jsub.children().apply(0), sub["kids"][0])
            df = _in_subquery(cat, q, jsub, sub).distinct()
            rows = df.limit(_SUBQ_INLINE_CAP + 1).collect()
            if len(rows) > _SUBQ_INLINE_CAP:
                raise ValueError(
                    f"IN-subquery value set exceeds {_SUBQ_INLINE_CAP} distinct "
                    "values; at that scale route the frame through the Python "
                    "API (TableStore.delete_keys joins it distributed) — DELETE "
                    "with the subquery column as the table key does this "
                    "automatically"
                )
            subst[path] = _in_literal(col, [r[0] for r in rows], neg, bs)
        if subst[path] == "FALSE" and path in top:
            return None
    return _render(q, jcond, cond, subst)


def _route_where(cat, q: str, jcond, cond: dict, key: str, whole: bool):
    """``(where, predicate, keys)`` for the store call, or None when no
    row can match. ``keys`` is set on the key route: a positive
    IN-subquery on the TABLE KEY that is a top-level conjunct (the whole
    WHERE when ``whole``) becomes a frame of keys the store semi-joins
    distributed — key-stats segment skipping, no driver materialization
    and no inline cap, the reference's cascade delete as SQL
    (amplifier_library/sessions/manager.py:422-452); the remaining
    conjuncts ride along as the row filter."""
    conjs = _conjuncts(cond)
    terms = _subquery_terms(cond)
    top = {p for p, _ in conjs}
    path, term, sub = terms[0] if len(terms) == 1 else (None, None, None)
    if (
        path in top
        and (path == () or not whole)
        and _cls(term) == "InSubquery"
        and _column(sub["kids"][0]) == key
    ):
        keys = _in_subquery(cat, q, _child(jcond, path), sub).toDF(key)
        rest = [n for p, n in conjs if p != path]
        if not rest:
            return None, None, keys
        return _render(q, jcond, cond, {path: "TRUE"}), _predicate(rest), keys
    if terms:
        where = _inline_subqueries(cat, q, jcond, cond, terms, top)
        return where and (where, extract_predicate(where), None)
    return _text(q, jcond, cond), _predicate(n for _, n in conjs), None


def _delete(cat, q: str, plan: dict, jplan, name: str) -> DataFrame:
    store = _writable_store(cat, name)
    cond = _tree(plan["condition"])
    if _cls(cond) == "Literal" and cond["value"] == "true":
        raise ValueError(
            "DELETE with no WHERE would drop every row; use "
            "store.overwrite() with an empty frame if that is really meant"
        )
    routed = _route_where(cat, q, jplan.condition(), cond, store.key, True)
    if routed is None:
        return _result(cat.spark, "DELETE", name, 0)
    where, pred, keys = routed
    if keys is not None:
        n = store.delete_keys(keys)
    else:
        n = store.delete_where(where=where, predicate=pred or None)
    _refresh_after(cat, name)
    return _result(cat.spark, "DELETE", name, n)


def _update(cat, q: str, plan: dict, jplan, name: str) -> DataFrame:
    store = _writable_store(cat, name)
    jasg = jplan.assignments()
    assignments: dict[str, str] = {}
    for i, flat in enumerate(plan["assignments"]):
        tree = _tree(flat)
        col = _column(tree["kids"][0], jasg.apply(i).key() if "`" in q else None)
        if col is None:
            raise ValueError(
                f"UPDATE SET assignment {i + 1} must target a bare column "
                f"name of {name}"
            )
        assignments[col] = _text(q, jasg.apply(i).value(), tree["kids"][1])
    where = pred = keys = None
    if plan.get("condition"):
        cond, jcond = _tree(plan["condition"]), jplan.condition().get()
        routed = _route_where(cat, q, jcond, cond, store.key, False)
        if routed is None:
            return _result(cat.spark, "UPDATE", name, 0)
        where, pred, keys = routed
    n = store.update(
        set=assignments, where=where, predicate=pred or None, keys=keys
    )
    _refresh_after(cat, name)
    return _result(cat.spark, "UPDATE", name, n)


def _qualified_columns(n: dict, path: tuple[int, ...] = ()):
    """``(path, node)`` of every qualified column in an expression."""
    if len(_name(n)) > 1:
        yield path, n
    for i, k in enumerate(n["kids"]):
        yield from _qualified_columns(k, path + (i,))


def _merge_condition(q: str, jcond, cond: dict, canon: dict) -> str:
    """A WHEN condition's text with the statement's aliases rewritten to
    the ``t.``/``s.`` prefixes store.merge evaluates, each edit made at
    the column's own span (never inside a literal, and an alias that is
    itself ``t`` or ``s`` cannot collide)."""
    edits = []
    for path, n in _qualified_columns(cond):
        jcol = _child(jcond, path) if "`" in q else None
        parts = _name(n, jcol)
        if canon.get(parts[0], parts[0]) != parts[0]:
            quoted = ["`" + p.replace("`", "``") + "`" for p in parts[1:]]
            jcol = _child(jcond, path) if jcol is None else jcol
            edits.append((*_span(jcol), ".".join([canon[parts[0]], *quoted])))
    if not edits:
        return _text(q, jcond, cond)
    at, stop = _span(jcond, cond)
    out = []
    for start, end, text in sorted(edits):
        out += [q[at:start], text]
        at = end
    return "".join(out) + q[at:stop]


def _merge(cat, q: str, plan: dict, jplan, name: str) -> DataFrame:
    store = _writable_store(cat, name)
    key = store.key
    exact = "`" in q  # read multi-part names exactly (see _name)
    tgt, src = plan["kids"]
    talias = tgt["identifier"]["name"] if _cls(tgt) == "SubqueryAlias" else name
    salias, jsrc = None, jplan.sourceTable()
    if _cls(src) == "SubqueryAlias":
        salias, src, jsrc = src["identifier"]["name"], src["kids"][0], jsrc.child()
    if _cls(src) == "UnresolvedRelation":
        parts = _parts(src["multipartIdentifier"])
        if len(parts) != 1:
            raise ValueError(
                "unsupported MERGE source; use USING <registered name> or "
                f"USING (<subquery>), got {'.'.join(parts)!r}"
            )
        salias = salias or parts[0]
        source = cat.table(parts[0])
    else:
        # cat.sql so the subquery source honors follow_head and inline
        # time travel, like every other read through the catalog.
        salias = salias or "s"
        source = cat.sql(_query_text(q, jsrc, src))
    on, jon = _tree(plan["mergeCondition"]), jplan.mergeCondition()
    sides = {
        tuple(_name(k, jon.children().apply(i) if exact else None))
        for i, k in enumerate(on["kids"])
    }
    if _cls(on) != "EqualTo" or sides != {(talias, key), (salias, key)}:
        raise ValueError(
            f"MERGE ON must be the key equi-join {talias}.{key} = "
            f"{salias}.{key} (the store's MERGE contract); got "
            f"{_text(q, jon)!r}"
        )
    if plan["notMatchedBySourceActions"]:
        raise ValueError(
            "WHEN NOT MATCHED BY SOURCE is not supported by the store's "
            "MERGE (unmatched target rows always survive); delete them "
            "with a separate DELETE"
        )
    insert = False
    for flat in plan["notMatchedActions"]:
        action = _tree(flat)
        if action.get("condition"):
            raise ValueError(
                "WHEN NOT MATCHED AND <cond> is not supported by the "
                "store's MERGE; filter the source instead"
            )
        if _cls(action) != "InsertStarAction":
            raise ValueError("WHEN NOT MATCHED supports only INSERT *")
        insert = True
    canon = {talias: "t", salias: "s"}
    update_cols = update_cond = delete_cond = None
    has_update = False
    jactions = jplan.matchedActions()
    for i, flat in enumerate(plan["matchedActions"]):
        action = _tree(flat)
        cond = None
        if action.get("condition"):
            jcond = jactions.apply(i).condition().get()
            cond = _merge_condition(q, jcond, action["kids"][0], canon)
        if _cls(action) == "DeleteAction":
            delete_cond = cond or "true"
            continue
        has_update = True
        if cond is not None:
            update_cond = cond
        if _cls(action) == "UpdateStarAction":
            update_cols = None
            continue
        update_cols = []
        for j in action["assignments"]:
            jasg = jactions.apply(i).children().apply(j) if exact else None
            kp, vp = (
                _name(x, jasg.children().apply(k) if exact else None)
                for k, x in enumerate(action["kids"][j]["kids"])
            )
            col = kp[-1] if kp else None
            if kp not in ([col], [talias, col]) or vp != [salias, col]:
                raise ValueError(
                    f"MERGE UPDATE SET supports 'c = {salias}.c' assignments "
                    f"(or SET *); got {'.'.join(kp) or '<expr>'} = "
                    f"{'.'.join(vp) or '<expr>'}"
                )
            update_cols.append(col)
    if not has_update:
        # No UPDATE clause anywhere (insert-only, or conditional DELETE
        # only): suppress updates entirely. store.merge's update_cond=None
        # means "update every matched row" — letting that default through
        # would rewrite matched-but-not-deleted rows the statement never
        # asked to touch.
        update_cond = "false"
    store.merge(
        source,
        update_cols=update_cols,
        update_cond=update_cond,
        delete_cond=delete_cond,
        insert=insert,
    )
    _refresh_after(cat, name)
    return _result(cat.spark, "MERGE", name, -1)


_ROUTES = {
    "InsertIntoStatement": _insert,
    "DeleteFromTable": _delete,
    "UpdateTable": _update,
    "MergeIntoTable": _merge,
}


# -- utility statements (Delta's SQL maintenance surface) ---------------------

_UTIL_HEAD = re.compile(
    r"^\s*(DESCRIBE|DESC|VACUUM|OPTIMIZE|RESTORE|ALTER|CREATE)\b", re.I
)

# ALTER TABLE sub-forms this router expresses over the store's logical-
# schema plane (column mapping, CHECK constraints). Anything else (ADD
# COLUMN is write-time additive evolution — just write the column) is not
# claimed, so it falls through to Spark's parser.
_ALTER_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
    r"(RENAME\s+COLUMN|DROP\s+COLUMN|ADD\s+CONSTRAINT|DROP\s+CONSTRAINT)\b",
    re.I,
)

# CREATE [OR REPLACE] TABLE <name> [KEY <col>] [PARTITIONED BY (cols)]
# LOCATION '<path>' AS <select> — CTAS materializing into a NEW TableStore
# root and registering it. Other CREATE forms (temp views, real catalog
# tables) stay with Spark.
_CTAS_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+({_IDENT})"
    rf"(?:\s+KEY\s+({_IDENT}))?"
    r"(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?"
    r"\s+LOCATION\s+'([^']+)'\s+AS\s+(.+)$",
    re.I | re.S,
)


def is_util(query: str) -> bool:
    """Maintenance statements this router handles (Delta's SQL surface:
    DESCRIBE HISTORY/DETAIL, VACUUM, OPTIMIZE [ZORDER BY], RESTORE).
    Plain ``DESCRIBE <name>``/``DESCRIBE TABLE`` stays with Spark."""
    m = _UTIL_HEAD.match(query)
    if not m:
        return False
    head = m.group(1).upper()
    if head in ("DESCRIBE", "DESC"):
        return bool(
            re.match(
                r"^\s*(?:DESCRIBE|DESC)\s+(?:HISTORY|DETAIL)\b", query, re.I
            )
        )
    if head == "ALTER":
        return bool(_ALTER_RE.match(query))
    if head == "CREATE":
        return bool(_CTAS_RE.match(query.strip().rstrip(";")))
    return True


def _json_str(v) -> str:
    return json.dumps(v, sort_keys=True, default=str)


def route_util(cat, query: str) -> DataFrame:
    """Dispatch one maintenance statement. Read-only forms (DESCRIBE)
    accept any store-backed registration including pinned snapshots;
    mutating forms (VACUUM / OPTIMIZE / RESTORE) require a head
    registration, exactly like DML."""
    spark = cat.spark
    q = query.strip().rstrip(";").strip()

    m = re.match(
        rf"^(?:DESCRIBE|DESC)\s+(HISTORY|DETAIL)\s+({_IDENT})$", q, re.I
    )
    if m:
        kind, name = m.group(1).upper(), m.group(2)
        store, _opts = cat._entry(name)
        if store is None:
            raise ValueError(
                f"{name!r} is a DataFrame/testdata view; DESCRIBE "
                f"{kind} needs a TableStore-backed registration"
            )
        if kind == "HISTORY":
            rows = [
                (
                    e["version"],
                    e["n_segments"],
                    float(e["committed_at"]) if e["committed_at"] else None,
                    _json_str(e["meta"]),
                    _json_str(e["txn"]),
                )
                for e in store.history()
            ]
            return spark.createDataFrame(
                rows,
                "version long, n_segments long, committed_at double, "
                "meta string, txn string",
            )
        d = store.detail()
        row = (
            d["location"],
            d["version"],
            d["key"],
            d["num_segments"],
            d["num_data_files"],
            d["size_bytes"],
            d["num_deletion_vectors"],
            _json_str(d["constraints"]),
            _json_str(d["partition_by"]),
            d["num_partitions"],
        )
        return spark.createDataFrame(
            [row],
            "location string, version long, key string, num_segments long, "
            "num_data_files long, size_bytes long, "
            "num_deletion_vectors long, constraints string, "
            "partition_by string, num_partitions long",
        )

    m = re.match(
        rf"^VACUUM\s+({_IDENT})"
        r"(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?(\s+DRY\s+RUN)?$",
        q,
        re.I,
    )
    if m:
        name, keep, dry = m.group(1), m.group(2), bool(m.group(3))
        store = _writable_store(cat, name)
        out = store.vacuum(
            keep_last=int(keep) if keep else 2, dry_run=dry
        )
        return spark.createDataFrame(
            [(name, len(out["names"]), out["n_files"], out["bytes"], dry)],
            "table string, entries long, n_files long, bytes long, "
            "dry_run boolean",
        )

    m = re.match(
        rf"^OPTIMIZE\s+({_IDENT})"
        r"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?$",
        q,
        re.I,
    )
    if m:
        name, zcols = m.group(1), m.group(2)
        store = _writable_store(cat, name)
        if zcols:
            cols = tuple(c.strip() for c in zcols.split(",") if c.strip())
            v = store.compact(zorder_by=cols)
        else:
            v = store.compact()
        _refresh_after(cat, name)
        return spark.createDataFrame(
            [(name, v, store.n_segments())],
            "table string, version long, num_segments long",
        )

    m = re.match(
        rf"^RESTORE\s+(?:TABLE\s+)?({_IDENT})\s+TO\s+"
        r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')$",
        q,
        re.I,
    )
    if m:
        name, ver, ts = m.groups()
        store = _writable_store(cat, name)
        v = store.restore(
            version=int(ver) if ver is not None else None,
            as_of=ts,
        )
        _refresh_after(cat, name)
        return spark.createDataFrame(
            [(name, v)], "table string, version long"
        )

    if _ALTER_RE.match(q):
        name = _ALTER_RE.match(q).group(1)
        if name not in cat._entries:
            # Not a catalog registration: the user means a real Spark
            # catalog table — hand the statement back to Spark untouched.
            return spark.sql(query)
        store = _writable_store(cat, name)
        for pat, fn, op in (
            (
                rf"^ALTER\s+TABLE\s+{_IDENT}\s+RENAME\s+COLUMN\s+"
                rf"({_IDENT})\s+TO\s+({_IDENT})$",
                lambda g: store.rename_column(g[0], g[1]),
                "rename_column",
            ),
            (
                rf"^ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+COLUMN\s+({_IDENT})$",
                lambda g: store.drop_column(g[0]),
                "drop_column",
            ),
            (
                rf"^ALTER\s+TABLE\s+{_IDENT}\s+ADD\s+CONSTRAINT\s+"
                rf"({_IDENT})\s+CHECK\s*\((.+)\)$",
                lambda g: store.add_constraint(g[0], g[1].strip()),
                "add_constraint",
            ),
            (
                rf"^ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+CONSTRAINT\s+"
                rf"({_IDENT})$",
                lambda g: store.drop_constraint(g[0]),
                "drop_constraint",
            ),
        ):
            m = re.match(pat, q, re.I | re.S)
            if m:
                v = fn(m.groups())
                _refresh_after(cat, name)
                return spark.createDataFrame(
                    [(name, op, v)], "table string, op string, version long"
                )
        raise ValueError(
            "unsupported ALTER TABLE form; supported: RENAME COLUMN a TO "
            "b, DROP COLUMN c, ADD CONSTRAINT nm CHECK (expr), DROP "
            "CONSTRAINT nm"
        )

    m = _CTAS_RE.match(q)
    if m:
        replace, name, key, pby, path, select = m.groups()
        from lakehouse_spark.mutation.store import TableStore

        if name in cat._entries and not replace:
            raise ValueError(
                f"{name!r} is already registered; use CREATE OR REPLACE "
                "TABLE to redefine it"
            )
        df = cat.sql(select)  # follower refresh + time travel apply
        parts = (
            [c.strip() for c in pby.split(",") if c.strip()] if pby else None
        )
        store = TableStore(
            spark,
            path,
            key=key or "",
            stats_cols=(key,) if key else (),
            partition_by=tuple(parts) if parts else (),
        )
        if store.exists():
            if not replace:
                raise ValueError(
                    f"a table already exists at {path}; use CREATE OR "
                    "REPLACE TABLE to overwrite it"
                )
            store.overwrite(df)
        else:
            store.init(df)
        cat.register(name, store=store)
        return _result(spark, "create_table_as", name, -1)

    raise ValueError(
        "unsupported maintenance statement; supported: DESCRIBE "
        "HISTORY|DETAIL <name>, VACUUM <name> [RETAIN n VERSIONS] [DRY "
        "RUN], OPTIMIZE <name> [ZORDER BY (cols)], RESTORE <name> TO "
        "VERSION AS OF n | TO TIMESTAMP AS OF '<ts>', ALTER TABLE <name> "
        "RENAME/DROP COLUMN | ADD/DROP CONSTRAINT, CREATE [OR REPLACE] "
        "TABLE <name> [KEY k] [PARTITIONED BY (...)] LOCATION '<path>' "
        "AS <select>"
    )
