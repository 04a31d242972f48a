"""Seeded input generators. The engine sees only the files written here.

Everything is a pure function of the seed: the same seed gives the same
bytes, so two commits measured with one seed read identical inputs.

- :func:`catalog_tables` writes the ten tables the query catalog reads
  (TPC-H-ish star schema plus ``events``, ``documents``, ``embeddings``),
  shaped like the repository's test data.
- :func:`session_tables` builds a reference-shaped session lake: sessions
  with parent chains, transcripts and trace events, plus one giant session.
- :func:`trace_events` also builds the event rows that ingest batches
  submit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data query join small big filter group column order "
    "stream vector customer"
).split()


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog's ten input tables at scale factor ``sf`` (row counts
    follow the repository's test data: lineitem = 6M x sf)."""
    r = _rng(seed, 1)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    def money(lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segs[r.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = np.array("small red blue hot cold old new large".split())
    noun = np.array("bolt gear ring rod plate anvil widget gizmo".split())
    ptype = np.array("ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split())
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adj[r.integers(0, 8, n_part)], " "),
                noun[r.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": ptype[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": retail,
        }
    )
    day0 = np.datetime64("1995-01-01", "us")
    one_day = np.timedelta64(86_400_000_000, "us")
    odate = day0 + r.integers(0, 2404, n_ord) * one_day
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["P", "O", "F"])[r.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": prio[r.integers(0, 5, n_ord)],
        }
    )
    lok = r.integers(0, n_ord, n_line, dtype=np.int64)
    lpk = r.integers(0, n_part, n_line, dtype=np.int64)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": lok,
            "l_partkey": lpk,
            "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": r.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[lpk] * r.uniform(0.98, 2.1, n_line), 2),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
            "l_shipdate": pa.array(
                odate[lok] + r.integers(1, 122, n_line) * one_day, pa.timestamp("us")
            ),
        }
    )
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        r.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    etype = np.array(["click", "signup", "error", "view", "purchase"])
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": r.integers(0, max(150, int(15_000 * sf)), n_ev, dtype=np.int64),
            "event_type": etype[r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(40.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped
            base = texts[int(r.integers(0, i))].split()
            base[int(r.integers(0, len(base)))] = str(words[r.integers(0, len(words))])
            texts.append(" ".join(base) + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(8, 80)))]))
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": langs[r.integers(0, len(langs), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    label = r.integers(0, 10, n_emb, dtype=np.int32)
    centers = r.normal(0.0, 0.15, (10, 64))
    vecs = (centers[label] + r.normal(0.0, 0.08, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": label,
        }
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Session lake (reference-shaped: sessions / messages / trace events)
# ---------------------------------------------------------------------------

_TS = pa.timestamp("us", tz="UTC")
SESSION_ARROW = pa.schema(
    [
        ("session_id", pa.string()),
        ("name", pa.string()),
        ("parent_session_id", pa.string()),
        ("amplified_dir", pa.string()),
        ("status", pa.string()),
        ("created_at", _TS),
        ("started_at", _TS),
        ("ended_at", _TS),
        ("profile_name", pa.string()),
        ("message_count", pa.int32()),
        ("agent_invocations", pa.int32()),
        ("token_usage", pa.int64()),
        ("error_message", pa.string()),
        ("error_details", pa.map_(pa.string(), pa.string())),
        ("is_unread", pa.bool_()),
        ("last_read_at", _TS),
        ("encounter_seq", pa.int64()),
    ]
)
MESSAGE_ARROW = pa.schema(
    [
        ("session_id", pa.string()),
        ("timestamp", _TS),
        ("role", pa.string()),
        ("content", pa.string()),
        ("agent", pa.string()),
        ("token_count", pa.int32()),
        ("encounter_seq", pa.int64()),
    ]
)
_RESULT = pa.struct(
    [
        ("success", pa.bool_()),
        ("output", pa.string()),
        ("error", pa.struct([("message", pa.string())])),
    ]
)
EVENT_ARROW = pa.schema(
    [
        ("session_id", pa.string()),
        ("ts", pa.string()),
        ("lvl", pa.string()),
        ("event", pa.string()),
        (
            "data",
            pa.struct(
                [
                    ("prompt", pa.string()),
                    ("tool_name", pa.string()),
                    ("tool_input", pa.map_(pa.string(), pa.string())),
                    ("parallel_group_id", pa.string()),
                    ("delta", pa.string()),
                    ("result", _RESULT),
                ]
            ),
        ),
        ("encounter_seq", pa.int64()),
    ]
)

STATUSES = ("created", "active", "completed", "failed", "terminated")
DIRS = tuple(f"proj{i}" for i in range(10))
_PROFILES = ("default", "dev", "review", "ops", "research")
_TOOLS = ("Bash", "Read", "Edit", "Grep", "Write")
_LVLS = ("INFO", "info", "DEBUG", "WARNING", "Info")
T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


@dataclass
class SessionLakeData:
    """A generated lake: the three tables plus what the checks need."""

    sessions: pa.Table
    messages: pa.Table
    events: pa.Table
    parent: dict[str, str | None]
    giant: str
    popular: list[str]  # non-giant session ids, most popular first
    prompts: dict[str, int]  # prompt:submit events per session
    tool_calls: dict[str, int]  # tool:pre events per session


def _iso(t: datetime) -> str:
    return t.isoformat(timespec="milliseconds")


def trace_events(
    r: np.random.Generator, sid: str, n: int, start: datetime, seq0: int = 0,
    max_tools: int = 4,
) -> tuple[list[dict], int, int]:
    """About ``n`` trace events for one session, as turns of
    prompt:submit → up to ``max_tools`` tool:pre/post pairs and thinking
    deltas. Returns the rows, the number of prompts and the number of tool
    calls."""
    rows: list[dict] = []
    prompts = tools = 0
    t = start
    seq = seq0

    def emit(event, data=None, lvl="INFO"):
        nonlocal t, seq
        seq += 1
        t += timedelta(milliseconds=int(r.integers(5, 4000)))
        rows.append(
            dict(session_id=sid, ts=_iso(t), lvl=lvl, event=event, data=data,
                 encounter_seq=seq)
        )

    while len(rows) < n:
        prompts += 1
        emit("prompt:submit", {"prompt": f"task {prompts} for {sid}"})
        for k in range(int(r.integers(1, max_tools + 1))):
            name = _TOOLS[int(r.integers(0, len(_TOOLS)))]
            gid = f"g{prompts}" if k % 2 else ""
            tools += 1
            emit("tool:pre", {"tool_name": name, "parallel_group_id": gid,
                              "tool_input": [("arg", f"x{k}")]},
                 lvl=_LVLS[int(r.integers(0, len(_LVLS)))])
            if r.random() < 0.3:
                emit("thinking:delta", {"delta": "considering"}, lvl="DEBUG")
            ok = bool(r.random() < 0.9)
            emit("tool:post", {
                "tool_name": name, "parallel_group_id": gid,
                "result": {"success": ok, "output": "done" if ok else None,
                           "error": None if ok else {"message": "boom"}},
            })
        emit("content_block:end", None, lvl="DEBUG")
    return rows, prompts, tools


def session_tables(
    seed: int,
    n_sessions: int,
    messages_per: int,
    events_per: int,
    giant_events: int,
) -> SessionLakeData:
    """A lake of ``n_sessions`` sessions: ~20% have a parent (chains up to
    3 levels deep), each has ``messages_per`` transcript messages and about
    ``events_per`` trace events; one extra giant session has
    ``giant_events`` events. Popularity is Zipf over a seeded permutation."""
    r = _rng(seed, 2)
    ids = [f"session_{h:08x}" for h in r.choice(1 << 32, n_sessions + 1, replace=False)]
    giant = ids[-1]
    parent: dict[str, str | None] = {}
    depth: dict[str, int] = {}
    srows, mrows, erows = [], [], []
    prompts: dict[str, int] = {}
    tool_calls: dict[str, int] = {}
    for i, sid in enumerate(ids):
        p = None
        if 0 < i < n_sessions and r.random() < 0.2:
            cand = ids[int(r.integers(0, i))]
            if depth[cand] < 3:
                p = cand
        parent[sid] = p
        depth[sid] = 0 if p is None else depth[p] + 1
        status = STATUSES[int(r.integers(0, len(STATUSES)))]
        created = T0 + timedelta(minutes=7 * i)
        failed = status == "failed"
        srows.append(
            dict(
                session_id=sid, name=f"Session {i}", parent_session_id=p,
                amplified_dir=DIRS[int(r.integers(0, len(DIRS)))], status=status,
                created_at=created,
                started_at=None if status == "created" else created,
                ended_at=None if status in ("created", "active")
                else created + timedelta(hours=1),
                profile_name=_PROFILES[int(r.integers(0, len(_PROFILES)))],
                message_count=messages_per, agent_invocations=int(r.integers(0, 5)),
                token_usage=None if r.random() < 0.1 else int(r.integers(100, 90_000)),
                error_message="tool failed" if failed else None,
                error_details=[("code", "E1")] if failed else None,
                is_unread=bool(r.random() < 0.4), last_read_at=None,
                encounter_seq=i + 1,
            )
        )
        for m in range(messages_per):
            mrows.append(
                dict(
                    session_id=sid, timestamp=created + timedelta(seconds=30 * m),
                    role=("user", "assistant", "system")[m % 3],
                    content=f"message {m} of {sid} @file{m % 7}.md",
                    agent=None if m % 4 else "helper",
                    token_count=None if m % 11 == 5 else int(r.integers(1, 500)),
                    encounter_seq=m + 1,
                )
            )
        if sid == giant:  # long turns: many tool calls per prompt
            ev, prompts[sid], tool_calls[sid] = trace_events(
                r, sid, giant_events, created, max_tools=60)
        else:
            ev, prompts[sid], tool_calls[sid] = trace_events(r, sid, events_per, created)
        erows.extend(ev)
    popular = list(r.permutation(ids[:-1]))
    return SessionLakeData(
        sessions=pa.Table.from_pylist(srows, SESSION_ARROW),
        messages=pa.Table.from_pylist(mrows, MESSAGE_ARROW),
        events=pa.Table.from_pylist(erows, EVENT_ARROW),
        parent=parent, giant=giant, popular=popular,
        prompts=prompts, tool_calls=tool_calls,
    )


def write_session_tables(data: SessionLakeData, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in ("sessions", "messages", "events"):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(getattr(data, name), paths[name])
    return paths


def zipf_weights(n: int) -> np.ndarray:
    """Probabilities of ranks 0..n-1, proportional to 1/(rank+1)^1.1."""
    w = 1.0 / np.arange(1, n + 1) ** 1.1
    return w / w.sum()
