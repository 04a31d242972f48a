"""The three workloads. Each one generates its inputs from the seed, sets the
engine up (timed, repeatable), hands out decks of operations and checks
every result.

A deck is a fixed multiset of operations in a seeded order. The runner
executes whole decks, so every run sees the same mix and a percentile lands
on the same kind of operation from run to run.

- ``analytics``: the catalog's headline queries over generated tables.
- ``session_api``: a read mix over a generated :class:`SessionLake`.
- ``ingest_mutate``: writes (sinks, SQL DML, cascade delete, compaction)
  beside reads of the moving head, checked against a model at the end.
"""

from __future__ import annotations

import io
import os
from dataclasses import dataclass
from datetime import timedelta
from typing import Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# Input sizes: one run, JVM start included, must stay under about 70 s on a
# 4-core host (see "Time budget" in README.md).
ANALYTICS_SF = 0.005
SESSION_LAKE = dict(n_sessions=400, messages_per=12, events_per=40, giant_events=11_000)
INGEST_LAKE = dict(n_sessions=150, messages_per=8, events_per=40, giant_events=40)


@dataclass
class Op:
    label: str
    kind: str  # "read" | "write"
    run: Callable[[object], object]  # tracer -> result
    check: Callable[[object], str | None]  # result -> error text or None


def collect(tracer, df):
    """The action: rows of ``df``, inside a ``spark.action`` span."""
    with tracer.span("spark.action", df=df):
        return df.collect()


def canonical(cols, rows) -> str:
    from lakehouse_spark.oracle import canonical_hash

    return canonical_hash(list(cols), [tuple(r) for r in rows])


def parquet_bytes(table: pa.Table) -> int:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getbuffer().nbytes


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def generate(self) -> None:
        """Benchmark-side inputs and expectations (not timed as set-up)."""

    def setup(self, i: int) -> Callable[[], object]:
        """Prepare set-up number ``i`` (untimed) and return the timed part:
        a callable doing the engine's set-up into a fresh directory."""
        raise NotImplementedError

    def use(self, state) -> None:
        """Adopt what set-up 0 returned; the operations run against it."""

    def deck(self, k: int, warm: bool = False):
        """Operations of deck ``k``. The warm-up deck (untimed, before
        deck 1) holds one operation of every kind."""
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []


# ---------------------------------------------------------------------------


class Analytics(Workload):
    """The 16 ``headline=True`` catalog queries, build plus collect, each
    deck a seeded shuffle of all of them. Every result's order-insensitive
    hash is compared with the DuckDB oracle's, computed once before the
    timed loop (the one headline query without an oracle is compared with
    its own first result)."""

    name = "analytics"

    def generate(self):
        from lakehouse_spark.queries import headline_queries

        self.queries = headline_queries()
        self.tables = gen.catalog_tables(self.seed, ANALYTICS_SF)
        self.expected: dict[str, str] = {}
        self.data_dir = None

    def setup(self, i):
        from lakehouse_spark.io import register_tables

        d = os.path.join(self.work, f"tables{i}")
        gen.write_tables(self.tables, d)

        def timed():
            register_tables(self.spark, d)
            return d

        return timed

    def use(self, d: str) -> None:
        from lakehouse_spark.oracle import duckdb_connect

        self.data_dir = d
        con = duckdb_connect(d)
        for name, spec in self.queries.items():
            if spec.oracle is not None:
                rel = con.sql(spec.oracle)
                self.expected[name] = canonical(rel.columns, rel.fetchall())
        con.close()

    def _op(self, name: str) -> Op:
        spec = self.queries[name]

        def run(tracer):
            with tracer.span("queries.build"):
                df = spec.build(self.spark, self.data_dir)
            return df.columns, collect(tracer, df)

        def check(res):
            from lakehouse_spark.operators.dedup import release_caches

            release_caches()
            h = canonical(*res)
            want = self.expected.setdefault(name, h)
            return None if h == want else f"{name}: result hash differs from oracle"

        return Op(name, "read", run, check)

    def deck(self, k, warm=False):
        order = np.random.default_rng([self.seed, 100, k]).permutation(sorted(self.queries))
        return [self._op(str(n)) for n in order]


# ---------------------------------------------------------------------------


def build_lake(spark, root: str, paths: dict[str, str]):
    """Engine set-up for the session workloads: three TableStores
    initialised from the generated files, plus the SQL views."""
    from lakehouse_spark import schemas
    from lakehouse_spark.api import SessionLake

    lake = SessionLake(spark, root)
    for name, schema in (
        ("sessions", schemas.SESSION),
        ("messages", schemas.MESSAGE),
        ("events", schemas.TRACE_EVENT),
    ):
        getattr(lake, name).init(spark.read.schema(schema).parquet(paths[name]))
    lake.register_views()
    return lake


def descendants(parent: dict[str, str | None], sid: str) -> set[str]:
    kids: dict[str, list[str]] = {}
    for c, p in parent.items():
        if p is not None:
            kids.setdefault(p, []).append(c)
    out, todo = {sid}, [sid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _ids(rows, col: str) -> list:
    return [r[col] for r in rows]


def subtree_heights(parent: dict[str, str | None]) -> dict[str, int]:
    """Levels below each session (0 for a session without children)."""
    h = dict.fromkeys(parent, 0)
    for s in parent:
        up, d = parent[s], 1
        while up is not None:
            h[up] = max(h[up], d)
            up, d = parent[up], d + 1
    return h


class SessionApi(Workload):
    """A seeded read mix over a generated SessionLake. Every deck holds the
    same requests in a seeded order; the seed picks the sessions, by Zipf
    popularity within the class of sessions a request needs (the giant
    session, or sessions whose subtree has a given height), so a request's
    cost does not depend on the seed. SQL-expressible endpoints are checked
    against DuckDB over the generated files; trace endpoints against
    invariants of the generated events (one turn per ``prompt:submit``, one
    tool per ``tool:pre``)."""

    name = "session_api"
    # (request, variant) per deck: seven light requests put the median
    # inside one cluster of latencies; four heavy ones form the tail
    MIX = (
        ("list_sessions", None), ("list_sessions", None),
        ("events_page", "first"), ("events_page", "second"),
        ("unread_counts", None), ("sql", 0), ("sql", 1),
        ("message_tail", None), ("trace_metrics", None),
        ("session_closure", 2), ("execution_trace", "giant"),
    )
    SQL = (
        "SELECT status, count(*) AS n FROM sessions WHERE amplified_dir = '{d}' "
        "GROUP BY status",
        "SELECT s.amplified_dir, count(*) AS n FROM events e JOIN sessions s "
        "USING (session_id) WHERE e.event = 'tool:pre' AND s.profile_name = '{p}' "
        "GROUP BY s.amplified_dir",
    )
    PAGE = 10

    def generate(self):
        self.data = gen.session_tables(self.seed, **SESSION_LAKE)
        self.paths = gen.write_session_tables(self.data, os.path.join(self.work, "input"))
        heights = subtree_heights(self.data.parent)
        self.by_height: dict[int, list[str]] = {}
        for sid in self.data.popular:
            self.by_height.setdefault(heights[sid], []).append(sid)
        self.con = duckdb.connect()
        for name, p in self.paths.items():
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        self._memo: dict[tuple, object] = {}

    def setup(self, i):
        root = os.path.join(self.work, f"lake{i}")
        return lambda: build_lake(self.spark, root, self.paths)

    def use(self, lake) -> None:
        self.lake = lake

    def expect(self, key: tuple, sql: str, params=None):
        if key not in self._memo:
            self._memo[key] = self.con.execute(sql, params or []).fetchall()
        return self._memo[key]

    @staticmethod
    def pick(r, ids: list[str]) -> str:
        return ids[int(r.choice(len(ids), p=gen.zipf_weights(len(ids))))]

    def request(self, kind: str, variant, r) -> Op:
        lake = self.lake
        if variant == "giant":
            sid = self.data.giant
        elif kind == "session_closure":
            h = max(x for x in self.by_height if x <= variant)
            sid = self.pick(r, self.by_height[h])
        else:
            sid = self.pick(r, self.data.popular)
        if kind == "list_sessions":
            status = gen.STATUSES[int(r.integers(0, len(gen.STATUSES)))]
            want = [x[0] for x in self.expect(
                ("ls", status),
                "SELECT session_id FROM sessions WHERE status = ? "
                "ORDER BY created_at DESC, session_id LIMIT 50", [status])]
            return Op(kind, "read",
                      lambda t: collect(t, lake.list_sessions(status=status, limit=50)),
                      lambda rows: None if _ids(rows, "session_id") == want
                      else f"list_sessions({status}) differs")
        if kind == "events_page":
            page = self.expect(
                ("ep", sid),
                "SELECT ts, encounter_seq FROM events WHERE session_id = ? AND "
                "starts_with(event, 'tool:') ORDER BY ts, encounter_seq", [sid])
            n = self.PAGE
            # the second page starts after the first page's last key
            after = tuple(page[n - 1]) if variant == "second" and len(page) >= n else None
            start = n if after else 0
            want = [x[1] for x in page[start:start + n]]
            return Op(kind, "read",
                      lambda t: collect(t, lake.events_page(sid, prefix="tool:", after=after, limit=n)),
                      lambda rows: None if _ids(rows, "encounter_seq") == want
                      else f"events_page({sid}) differs")
        if kind == "message_tail":
            want = [x[0] for x in self.expect(
                ("mt", sid),
                "SELECT encounter_seq FROM (SELECT encounter_seq FROM messages "
                "WHERE session_id = ? ORDER BY encounter_seq DESC LIMIT 20) "
                "ORDER BY encounter_seq", [sid])]
            return Op(kind, "read", lambda t: collect(t, lake.message_tail(sid, n=20)),
                      lambda rows: None if _ids(rows, "encounter_seq") == want
                      else f"message_tail({sid}) differs")
        if kind == "execution_trace":
            n_turns, n_tools = self.data.prompts[sid], self.data.tool_calls[sid]

            def check_trace(rows):
                turns = sorted(rows, key=lambda x: x["turn_id"])
                ok = (
                    [x["turn_id"] for x in turns] == list(range(1, n_turns + 1))
                    and sum(len(x["tools"]) for x in turns) == n_tools
                )
                return None if ok else f"execution_trace({sid}) breaks invariants"

            return Op(kind, "read", lambda t: collect(t, lake.execution_trace(sid)), check_trace)
        if kind == "trace_metrics":
            n_tools = self.data.tool_calls[sid]
            return Op(kind, "read", lambda t: collect(t, lake.trace_metrics(sid)),
                      lambda rows: None if len(rows) == 1 and rows[0]["total_tools"] == n_tools
                      else f"trace_metrics({sid}) breaks invariants")
        if kind == "unread_counts":
            want = self.expect(
                ("uc",), "SELECT amplified_dir, count(*) AS n FROM sessions "
                "WHERE is_unread GROUP BY amplified_dir")
            want_h = canonical(["amplified_dir", "n"], want)
            return Op(kind, "read", lambda t: collect(t, lake.unread_counts()),
                      lambda rows: None if canonical(["amplified_dir", "n"], rows) == want_h
                      else "unread_counts differs")
        if kind == "session_closure":
            want = descendants(self.data.parent, sid)
            return Op(kind, "read", lambda t: collect(t, lake.session_closure(sid)),
                      lambda rows: None if set(_ids(rows, "child")) == want
                      and len(rows) == len(want) else f"session_closure({sid}) differs")
        if kind == "sql":
            q = self.SQL[variant].format(
                d=gen.DIRS[int(r.integers(0, len(gen.DIRS)))], p="dev")
            rel = self.con.sql(q)
            want_h = canonical(rel.columns, rel.fetchall())

            def run_sql(t):
                df = lake.sql(q)
                return df.columns, collect(t, df)

            return Op(kind, "read", run_sql,
                      lambda res: None if canonical(*res) == want_h else f"sql differs: {q}")
        raise KeyError(kind)

    def deck(self, k, warm=False):
        r = np.random.default_rng([self.seed, 200, k])
        return [self.request(*self.MIX[int(i)], r) for i in r.permutation(len(self.MIX))]


# ---------------------------------------------------------------------------


def dir_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # a temp file renamed away meanwhile
                pass
    return out


def is_metadata(root: str, path: str) -> bool:
    """Manifests, checkpoints, pointers and claims sit at a table's top
    level; data (segments, deletion vectors, change files) in subdirs."""
    rel = os.path.relpath(path, root).split(os.sep)
    return len(rel) == 2


class IngestMutate(Workload):
    """Writes beside reads on a generated lake. Each deck holds nine writes
    — a status batch through ``exactly_once_upsert_sink``; SQL UPDATE,
    MERGE and DELETE through ``LakeCatalog.sql``; ``cascade_delete``; two
    event micro-batches and one replayed batch id through
    ``exactly_once_store_sink``; ``compact_small`` — in that order, and six
    reads (``events_page``, ``list_sessions``, ``execution_trace``) of the
    moving head at seeded places between them. The fixed write order keeps the work of each write
    the same from deck to deck: the rewrites leave one segment, the batches
    add two, compaction folds them. A replay must add no rows. Reads are
    checked against a model of the op sequence as they run; the whole head
    is compared with the model at the end."""

    name = "ingest_mutate"
    WRITES = ("upsert", "sql_update", "sql_merge", "sql_delete", "cascade_delete",
              "append", "append", "replay", "compact_small")
    READS = ("events_page", "events_page", "events_page",
             "list_sessions", "list_sessions", "execution_trace")

    def generate(self):
        from lakehouse_spark import schemas

        self.schemas = schemas
        self.data = gen.session_tables(self.seed, **INGEST_LAKE)
        self.paths = gen.write_session_tables(self.data, os.path.join(self.work, "input"))
        self.batch_dir = os.path.join(self.work, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        self.submitted_bytes = 0
        self.replays = self.replays_skipped = 0
        self.batch_id = {"events": 0, "sessions": 0}
        # the model of the head
        self.sessions = {r["session_id"]: r for r in self.data.sessions.to_pylist()}
        self.parent = dict(self.data.parent)
        self.events: dict[str, list[dict]] = {}
        for row in self.data.events.to_pylist():
            self.events.setdefault(row["session_id"], []).append(row)
        self.messages: dict[str, int] = {}
        for sid in self.data.messages.column("session_id").to_pylist():
            self.messages[sid] = self.messages.get(sid, 0) + 1

    def setup(self, i):
        root = os.path.join(self.work, f"lake{i}")
        return lambda: build_lake(self.spark, root, self.paths)

    def use(self, lake):
        from lakehouse_spark.streaming.live import (
            exactly_once_store_sink,
            exactly_once_upsert_sink,
        )

        self.lake = lake
        self.cat = lake.register_views()
        self.event_sink = exactly_once_store_sink(lake.events, "perfbench-events")
        self.status_sink = exactly_once_upsert_sink(lake.sessions, "perfbench-status")
        self.lake_root = os.path.dirname(lake.sessions.root)

    # -- op construction (runs before the op's timer starts) -----------------

    def _live(self, r, n: int) -> list[str]:
        ids = sorted(self.sessions)
        return [ids[int(i)] for i in r.choice(len(ids), size=min(n, len(ids)), replace=False)]

    def _write_batch(self, rows: list[dict], schema: pa.Schema, tag: str) -> str:
        path = os.path.join(self.batch_dir, f"{tag}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema), path)
        return path

    def _append(self, r, replay: bool) -> Op:
        if replay:  # an already committed batch id comes again
            bid = int(r.integers(1, self.batch_id["events"] + 1))
            path = os.path.join(self.batch_dir, f"events{bid}.parquet")
            self.replays += 1
        else:
            rows = []
            for sid in self._live(r, 4):
                have = self.events.setdefault(sid, [])
                seq0 = max((e["encounter_seq"] for e in have), default=0)
                start = gen.T0 + timedelta(days=30 + seq0)
                rows += gen.trace_events(r, sid, 30, start, seq0)[0]
            self.batch_id["events"] += 1
            bid = self.batch_id["events"]
            path = self._write_batch(rows, gen.EVENT_ARROW, f"events{bid}")
            self.submitted_bytes += os.path.getsize(path)
        v0 = self.lake.events.current_version()

        def run(t):
            sink = t.wrap("streaming.sink", self.event_sink)
            sink(self.spark.read.schema(self.schemas.TRACE_EVENT).parquet(path), bid)

        def check(_):
            v1 = self.lake.events.current_version()
            if replay:
                self.replays_skipped += v1 == v0
                return None if v1 == v0 else f"replayed batch {bid} was committed again"
            for row in rows:
                self.events[row["session_id"]].append(row)
            return None if v1 == v0 + 1 else f"batch {bid} did not commit once"

        return Op("replay_batch" if replay else "append_batch", "write", run, check)

    def _upsert(self, r) -> Op:
        rows = []
        for sid in self._live(r, 8):
            row = dict(self.sessions[sid])
            row["status"] = gen.STATUSES[int(r.integers(0, len(gen.STATUSES)))]
            row["is_unread"] = True
            rows.append(row)
        self.batch_id["sessions"] += 1
        bid = self.batch_id["sessions"]
        path = self._write_batch(rows, gen.SESSION_ARROW, f"sessions{bid}")
        self.submitted_bytes += os.path.getsize(path)

        def run(t):
            sink = t.wrap("streaming.sink", self.status_sink)
            sink(self.spark.read.schema(self.schemas.SESSION).parquet(path), bid)

        def check(_):
            for row in rows:
                self.sessions[row["session_id"]] = row
            return None

        return Op("upsert_status", "write", run, check)

    def _changed_bytes(self, rows: list[dict]) -> None:
        if rows:
            self.submitted_bytes += parquet_bytes(pa.Table.from_pylist(rows, gen.SESSION_ARROW))

    def _sql_update(self, r) -> Op:
        d = gen.DIRS[int(r.integers(0, len(gen.DIRS)))]
        st = gen.STATUSES[int(r.integers(0, len(gen.STATUSES)))]
        q = (f"UPDATE sessions SET is_unread = false "
             f"WHERE amplified_dir = '{d}' AND status = '{st}'")
        hit = [s for s in self.sessions.values()
               if s["amplified_dir"] == d and s["status"] == st]

        def check(rows):
            for s in hit:
                s["is_unread"] = False
            self._changed_bytes(hit)
            n = rows[0]["affected_rows"]
            return None if n == len(hit) else f"UPDATE touched {n}, model {len(hit)}"

        return Op("sql_update", "write", lambda t: collect(t, self.cat.sql(q)), check)

    def _sql_merge(self, r) -> Op:
        ids = self._live(r, 5)
        names = {sid: f"renamed {sid} {int(r.integers(0, 1 << 30))}" for sid in ids}
        values = ", ".join(f"('{k}', '{v}')" for k, v in names.items())
        q = ("MERGE INTO sessions t USING (SELECT * FROM VALUES "
             f"{values} AS v(session_id, name)) s ON t.session_id = s.session_id "
             "WHEN MATCHED THEN UPDATE SET name = s.name")

        def check(_):
            for k, v in names.items():
                self.sessions[k]["name"] = v
            self.submitted_bytes += parquet_bytes(
                pa.table({"session_id": list(names), "name": list(names.values())})
            )
            return None

        return Op("sql_merge", "write", lambda t: collect(t, self.cat.sql(q)), check)

    def _sql_delete(self, r) -> Op:
        sid = self._live(r, 1)[0]
        q = f"DELETE FROM events WHERE session_id = '{sid}' AND lvl = 'DEBUG'"
        keep = [e for e in self.events.get(sid, []) if e["lvl"] != "DEBUG"]
        gone = len(self.events.get(sid, [])) - len(keep)

        def check(rows):
            self.events[sid] = keep
            n = rows[0]["affected_rows"]
            return None if n == gone else f"DELETE removed {n}, model {gone}"

        return Op("sql_delete", "write", lambda t: collect(t, self.cat.sql(q)), check)

    def _cascade_delete(self, r) -> Op:
        # a root with children but no grandchildren while there is one, so
        # the closure's round count does not depend on the seed
        heights = subtree_heights(self.parent)
        roots = sorted(s for s, p in self.parent.items() if p is None)
        shaped = [s for s in roots if heights[s] == 1] or roots
        sid = shaped[int(r.integers(0, len(shaped)))]
        doomed = descendants(self.parent, sid) & set(self.sessions)

        def check(n):
            for s in doomed:
                self.sessions.pop(s, None)
                self.events.pop(s, None)
                self.messages.pop(s, None)
                self.parent.pop(s, None)
            return None if n == len(doomed) else f"cascade_delete removed {n}, model {len(doomed)}"

        return Op("cascade_delete", "write", lambda t: self.lake.cascade_delete(sid), check)

    def _compact(self) -> Op:
        def run(t):
            self.lake.events.compact_small()
            self.lake.sessions.compact_small()

        return Op("compact_small", "write", run, lambda _: None)

    def _events_page(self, r) -> Op:
        sid = self._live(r, 1)[0]
        tool = sorted(
            (e["ts"], e["encounter_seq"]) for e in self.events.get(sid, [])
            if e["event"].startswith("tool:")
        )
        want = [x[1] for x in tool[:40]]
        return Op("events_page", "read",
                  lambda t: collect(t, self.lake.events_page(sid, prefix="tool:", limit=40)),
                  lambda rows: None if _ids(rows, "encounter_seq") == want
                  else f"events_page({sid}) differs from model")

    def _list_sessions(self, r) -> Op:
        st = gen.STATUSES[int(r.integers(0, len(gen.STATUSES)))]
        hits = sorted((s for s in self.sessions.values() if s["status"] == st),
                      key=lambda s: (-s["created_at"].timestamp(), s["session_id"]))
        want = [s["session_id"] for s in hits[:50]]
        return Op("list_sessions", "read",
                  lambda t: collect(t, self.lake.list_sessions(status=st, limit=50)),
                  lambda rows: None if _ids(rows, "session_id") == want
                  else f"list_sessions({st}) differs from model")

    def _execution_trace(self, r) -> Op:
        sid = self._live(r, 1)[0]
        evs = self.events.get(sid, [])
        n_turns = sum(e["event"] == "prompt:submit" for e in evs)
        n_tools = sum(e["event"] == "tool:pre" for e in evs)

        def check(rows):
            ok = len(rows) == n_turns and sum(len(x["tools"]) for x in rows) == n_tools
            return None if ok else f"execution_trace({sid}) differs from model"

        return Op("execution_trace", "read",
                  lambda t: collect(t, self.lake.execution_trace(sid)), check)

    def deck(self, k, warm=False):
        r = np.random.default_rng([self.seed, 300, k])
        make = {
            "append": lambda: self._append(r, replay=False),
            "replay": lambda: self._append(r, replay=True),
            "upsert": lambda: self._upsert(r),
            "sql_update": lambda: self._sql_update(r),
            "sql_merge": lambda: self._sql_merge(r),
            "sql_delete": lambda: self._sql_delete(r),
            "cascade_delete": lambda: self._cascade_delete(r),
            "compact_small": self._compact,
            "events_page": lambda: self._events_page(r),
            "list_sessions": lambda: self._list_sessions(r),
            "execution_trace": lambda: self._execution_trace(r),
        }
        if warm:  # one of each kind
            kinds = list(dict.fromkeys(self.WRITES + self.READS))
        else:
            kinds = list(self.WRITES)
            for kind in self.READS:
                kinds.insert(int(r.integers(0, len(kinds) + 1)), kind)
        for kind in kinds:
            yield make[kind]()  # built only now: it reads the model's state

    # -- end of run ----------------------------------------------------------

    def final_check(self) -> list[str]:
        errs = []
        got = self.lake.sessions.read().select("session_id", "status", "name", "is_unread")
        want = [(s["session_id"], s["status"], s["name"], s["is_unread"])
                for s in self.sessions.values()]
        if canonical(got.columns, got.collect()) != canonical(got.columns, want):
            errs.append("sessions head differs from the model")
        got = self.lake.events.read().select("session_id", "encounter_seq", "event")
        want = [(e["session_id"], e["encounter_seq"], e["event"])
                for rows in self.events.values() for e in rows]
        if canonical(got.columns, got.collect()) != canonical(got.columns, want):
            errs.append("events head differs from the model")
        got = self.lake.messages.read().groupBy("session_id").count().collect()
        if {r[0]: r[1] for r in got} != {k: v for k, v in self.messages.items() if v}:
            errs.append("messages head differs from the model")
        return errs

    def space_metrics(self, written_bytes: int, submitted_bytes: int) -> dict[str, float]:
        """End-of-run numbers of the lake. ``write_amp``: bytes written
        under the lake root per byte of the submitted rows as plain parquet.
        ``space_amp``: live bytes of the head per byte of the same rows as
        one parquet file per table. Also the live segments and the share of
        replayed batches the sink skipped."""
        live = one = 0
        for store in (self.lake.sessions, self.lake.messages, self.lake.events):
            df = store.read()
            live += sum(os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles())
            one += parquet_bytes(df.toArrow())
        return {
            "write_amp": written_bytes / submitted_bytes if submitted_bytes else 0.0,
            "space_amp": live / one if one else 0.0,
            "mutation.segments_live": sum(
                s.n_segments() for s in (self.lake.sessions, self.lake.messages, self.lake.events)
            ),
            "streaming.replays_skipped_ratio":
                self.replays_skipped / self.replays if self.replays else 0.0,
        }
