"""SQL-by-name catalog: address every table by name through ``spark.sql``.

The reference's whole query surface is name-addressed (an API caller says
"sessions", "events" — ``amplifierd/routers/sessions.py:753-1406`` — never a
storage path). This module closes the same gap for the Spark engine: a
:class:`LakeCatalog` registers TableStore roots, testdata parquet, and
arbitrary DataFrames as named temp views, after which
``spark.sql("SELECT ... FROM events JOIN sessions ...")`` works everywhere a
DataFrame did.

Why views are backed by ``TableStore.read()`` (parquet-native scans) and NOT
``format("lakehouse")``: Spark 4.1's Python data source caches the planned
read (``PythonDataSourceV2.readInfo``) per RELATION with no keying on pushed
filters — ``getOrCreateReadInfo`` is a bare null-check and
``PythonScanBuilder.pushFilters`` overwrites the shared field. A temp view
holds one relation, so with ``spark.sql.python.filterPushdown.enabled``:

- a filtered query followed by an UNFILTERED one over the same view returns
  the filtered rows (measured: 50 instead of 400);
- two differently-filtered scans of one view in a single plan (self-join,
  scalar subqueries) both execute the LAST-pushed filter's partitions
  (measured: ``(SELECT count(*) WHERE x<50)`` returned 0 beside a
  ``WHERE x>=350`` subquery).

The per-query fresh ``load()`` pattern every other module uses is immune;
a long-lived named view is exactly the reuse that trips it. Parquet-native
scans have none of this (mature JVM planning), still push filters into
parquet row-group stats (``PushedFilters`` in the plan), read through the
same deletion-vector / column-mapping / schema-evolution logic as every
other TableStore read, and manifest-level segment pruning stays available
via ``register(..., predicate=...)``. tests/test_sql_catalog.py pins both
the pushdown and the mixed-filter-reuse correctness.

Version semantics: ``register`` resolves the table's CURRENT version at
registration time, matching a classic database view over a snapshot engine
— later commits are not visible through the view until :meth:`refresh`
(or re-register with ``version=`` / ``as_of=`` for time travel). This is
deliberate: a name that silently moved between two SQL statements of one
report would break a query against itself.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from lakehouse_spark.io import TABLE_NAMES, register_tables

# Live TIMESTAMP AS OF aliases kept per base table (a single statement may
# exceed this transiently — its own aliases are eviction-exempt until the
# next rewritten statement drains the surplus).
_TS_ALIAS_CAP = 8


class LakeCatalog:
    """Name → relation registry over one SparkSession.

    >>> cat = LakeCatalog(spark)
    >>> cat.register("events", store=my_store)          # TableStore
    >>> cat.register("hot", store=my_store, predicate={"day": "d1"})
    >>> cat.register_testdata(sf_dir)                   # driver parquet
    >>> cat.sql("SELECT count(*) FROM events WHERE day = 'd1'")
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # name -> (TableStore | None, read-kwargs) so refresh() can
        # re-resolve the snapshot; DataFrame/testdata registrations store
        # (None, {}).
        self._entries: dict[str, tuple[object | None, dict]] = {}
        # name -> table version the view was last resolved at: lets the
        # follow_head pre-pass skip the re-registration (snapshot load +
        # view plan rebuild) when the head did not move — one pointer read
        # per referenced follower per query instead.
        self._reg_versions: dict[str, int] = {}
        # base name -> FIFO of live TIMESTAMP AS OF alias names: distinct
        # timestamp strings each get a collision-proof alias (hash-keyed),
        # capped per base so a long-lived catalog doesn't accumulate one
        # temp view per timestamp string ever queried.
        self._ts_aliases: dict[str, list[str]] = {}

    # -- registration ------------------------------------------------------

    def register(
        self,
        name: str,
        path: str | None = None,
        *,
        store=None,
        df: DataFrame | None = None,
        version: int | None = None,
        as_of=None,
        predicate: dict | None = None,
        changes: bool = False,
        starting_version: int = 0,
        ending_version: int | None = None,
        follow_head: bool = False,
    ) -> DataFrame:
        """Register one named relation. Exactly one source form:

        - ``store=`` — a :class:`TableStore`;
        - ``path=`` — a lakehouse table root (opened read-only; the key
          column comes from the manifest);
        - ``df=`` — any DataFrame (escape hatch: parquet scans, computed
          relations).

        ``version=`` / ``as_of=`` time-travel the snapshot;
        ``predicate=`` (the :meth:`TableStore.read` dict form) bakes
        manifest-stats segment pruning into the view — segments that
        provably can't match are never listed, Delta-style data skipping
        for every query through the name.

        ``changes=True`` registers the CHANGE FEED as the named relation
        (Delta's ``table_changes(...)`` TVF as a view): rows are the table
        columns plus ``_change_type`` / ``_commit_version`` for commits
        ``starting_version..ending_version`` (default head). Like snapshot
        views, the range is pinned at registration — :meth:`refresh`
        extends a default-range view to the new head.

        ``follow_head=True`` makes the name re-resolve to the table's
        CURRENT head on every :meth:`sql`/:meth:`table` call through this
        catalog (the round-8 pin-at-registration default stays for plain
        registrations — see the module docstring for why). Implementation
        is a refresh-on-reference pre-pass, which keeps the underlying
        relation the reuse-safe parquet-scan kind; mutually exclusive with
        explicit ``version=``/``as_of=`` pins."""
        forms = sum(x is not None for x in (path, store, df))
        if forms != 1:
            raise ValueError(
                "register() needs exactly one of path=, store=, df="
            )
        if follow_head and (version is not None or as_of is not None):
            raise ValueError(
                "follow_head=True re-resolves the head per query; it "
                "cannot combine with a version=/as_of= pin"
            )
        opts = {
            "version": version,
            "as_of": as_of,
            "predicate": predicate,
            "follow_head": follow_head,
        }
        if df is not None:
            if version is not None or as_of is not None or predicate or follow_head:
                raise ValueError(
                    "version/as_of/predicate/follow_head only apply to "
                    "path=/store= registrations"
                )
            self._purge_asof_aliases(name, keep_store=None)
            df.createOrReplaceTempView(name)
            self._entries[name] = (None, {})
            return df
        if store is None:
            store = self._open(path)
        if changes:
            if version is not None or as_of is not None or predicate:
                raise ValueError(
                    "changes=True views take starting_version/"
                    "ending_version, not version/as_of/predicate"
                )
            if follow_head:
                raise ValueError(
                    "follow_head=True is not supported for change-feed "
                    "views; register with ending_version=None and call "
                    "refresh() to extend the range to the new head"
                )
        # Record the head BEFORE store.read()/changes() resolve their
        # snapshot: a commit landing between the two would otherwise
        # record a version AHEAD of what the view reflects, and a
        # follow_head freshness check would then serve the stale view
        # until the next commit. Recording early errs in the harmless
        # direction (one spurious refresh).
        v_seen = store.current_version()
        if changes:
            df = store.changes(starting_version, ending_version)
            opts = {
                "changes": True,
                "starting_version": starting_version,
                "ending_version": ending_version,
            }
        else:
            df = store.read(
                version=version,
                as_of=as_of,
                predicate=predicate,
            )
        self._purge_asof_aliases(name, keep_store=store)
        df.createOrReplaceTempView(name)
        self._entries[name] = (store, opts)
        self._reg_versions[name] = v_seen
        return df

    def _purge_asof_aliases(self, name: str, keep_store) -> None:
        """Drop cached ``{name}__asof_*`` time-travel aliases when ``name``
        is being re-bound to a DIFFERENT store (CREATE OR REPLACE TABLE,
        register() overwrite): a stale alias would otherwise resolve
        ``FROM name VERSION AS OF n`` to the OLD store's snapshot. Same-
        store re-registration (refresh(), follow_head) keeps the aliases —
        a version's snapshot is immutable, so they stay valid."""
        old = self._entries.get(name)
        if old is None or (keep_store is not None and old[0] is keep_store):
            return
        self._drop_asof_aliases(name)

    def _drop_asof_aliases(self, name: str) -> None:
        """Unconditionally drop every cached ``{name}__asof_*`` alias and
        its bookkeeping (shared by unregister and the re-bind purge)."""
        prefix = f"{name}__asof_"
        for a in [a for a in self._entries if a.startswith(prefix)]:
            self.spark.catalog.dropTempView(a)
            del self._entries[a]
            self._reg_versions.pop(a, None)
        self._ts_aliases.pop(name, None)

    # -- registry persistence ----------------------------------------------

    def save(self, path: str) -> int:
        """Persist the registry's STORE-BACKED registrations (names,
        roots, keys, store config, and the read options — version/as_of
        pins, predicates, change-feed ranges, follow_head) as JSON, so a
        fresh session re-attaches every name with :meth:`load`. The
        reference persists its name→entity index across restarts the same
        way (amplifier_library/sessions/manager.py:546-566 — read, not
        copied). DataFrame/testdata views have no durable identity and
        are skipped (re-register them per session). Time-travel ALIASES
        are derived caches — they rebuild on demand after load. Returns
        the number of entries written; the file lands atomically."""
        import os

        entries = []
        for name, (store, opts) in self._entries.items():
            if store is None or "__asof_" in name:
                continue
            kept_opts = {
                k: v for k, v in opts.items() if v or v == 0
            }  # version=0 is a real pin; None/False/empty are defaults
            pred = kept_opts.get("predicate")
            if pred:
                # JSON can't tell a (lo, hi) RANGE tuple from a 2-value
                # IN list — tag each bound's kind explicitly.
                kept_opts["predicate"] = {
                    c: (
                        {"range": list(b)}
                        if isinstance(b, tuple)
                        else {"in": list(b)}
                        if isinstance(b, (list, set, frozenset))
                        else {"eq": b}
                    )
                    for c, b in pred.items()
                }
            entries.append(
                {
                    "name": name,
                    "root": store.root,
                    "key": store.key,
                    "opts": kept_opts,
                    "store_conf": {
                        "stats_cols": list(store.stats_cols),
                        "bloom_cols": list(store.bloom_cols),
                        "write_cdf": store.write_cdf,
                        "partition_by": list(store.partition_by),
                        "checkpoint_interval": store.checkpoint_interval,
                        # Writer knobs (round-11 ask #5): without the shard
                        # size a reloaded catalog's writer would checkpoint
                        # a 200k-segment table with the default 1000 and
                        # rewrite EVERY shard once — correct but O(table),
                        # and it breaks shard reuse for the next writer.
                        "checkpoint_shard_size": store.checkpoint_shard_size,
                        "claim_wait_sec": getattr(
                            store, "claim_wait_sec", 0.0
                        ),
                        "orphan_grace_sec": getattr(
                            store, "orphan_grace_sec", 300.0
                        ),
                        "max_partitions_per_commit": (
                            store.max_partitions_per_commit
                        ),
                    },
                }
            )
        doc = {"format": "lakehouse_catalog", "version": 1, "entries": entries}
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            # default=str: datetime as_of pins / predicate bounds degrade
            # to their ISO strings (the same degradation every manifest
            # JSON round-trip applies; read()/version_at parse them back).
            json.dump(doc, f, indent=1, default=str)
        os.replace(tmp, path)
        return len(entries)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeCatalog":
        """Rebuild a catalog from :meth:`save`'s file in a fresh session:
        every entry re-registers through the normal path, so snapshot
        resolution, predicate-baked pruning, change-feed ranges, and
        follow_head semantics are exactly those of a hand-built catalog —
        and pinned (version=/as_of=) registrations still refuse DML. A
        table whose root vanished since the save raises
        FileNotFoundError naming it (a silently thinner catalog would
        turn queries into 'table not found' much later)."""
        from lakehouse_spark.mutation.store import TableStore

        with open(path) as f:
            doc = json.load(f)
        if doc.get("format") != "lakehouse_catalog":
            raise ValueError(f"{path} is not a saved LakeCatalog registry")
        cat = cls(spark)
        for e in doc["entries"]:
            conf = e.get("store_conf", {})
            store = TableStore(
                spark,
                e["root"],
                key=e["key"],
                stats_cols=tuple(conf.get("stats_cols", ())),
                bloom_cols=tuple(conf.get("bloom_cols", ())),
                write_cdf=conf.get("write_cdf", False),
                partition_by=tuple(conf.get("partition_by", ())),
                checkpoint_interval=conf.get("checkpoint_interval", 32),
                claim_wait_sec=conf.get("claim_wait_sec", 0.0),
                orphan_grace_sec=conf.get("orphan_grace_sec", 300.0),
                max_partitions_per_commit=conf.get(
                    "max_partitions_per_commit", 64
                ),
            )
            store.checkpoint_shard_size = conf.get(
                "checkpoint_shard_size", 1000
            )
            if store.current_version() is None:
                raise FileNotFoundError(
                    f"saved registration {e['name']!r} points at "
                    f"{e['root']}, which holds no committed table"
                )
            opts = e.get("opts", {})
            pred = opts.get("predicate")
            if pred:
                opts["predicate"] = {
                    c: (
                        tuple(tag["range"])
                        if "range" in tag
                        else tag["in"]
                        if "in" in tag
                        else tag["eq"]
                    )
                    for c, tag in pred.items()
                }
            cat.register(e["name"], store=store, **opts)
        return cat

    def _open(self, path: str):
        """Read-only open of a table root: the key column (needed to apply
        deletion vectors) is the manifest's advertised ``key``."""
        from lakehouse_spark.mutation.store import TableStore

        st = TableStore(self.spark, path, key="")
        v = st.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed table at {path}")
        st.key = st._snapshot(v)["key"] or st.key
        return st

    def register_testdata(
        self, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
    ) -> dict[str, DataFrame]:
        """Register the driver's testdata parquet tables by name (schema
        normalization included — events.ts nanos handling lives in
        :func:`lakehouse_spark.io.load_table`)."""
        out = register_tables(self.spark, sf_dir, names)
        for n in names:
            self._entries[n] = (None, {})
        return out

    def refresh(self, name: str) -> DataFrame:
        """Re-resolve a registered lakehouse table to its current head
        (keeping its predicate; explicit ``version=`` / ``as_of=``
        registrations and DataFrame/testdata views have no head to follow
        and are returned unchanged)."""
        store, opts = self._entry(name)
        pinned = (
            opts.get("version") is not None
            or opts.get("as_of") is not None
            or opts.get("ending_version") is not None
        )
        if store is None or pinned:
            return self.table(name)
        return self.register(name, store=store, **opts)

    def unregister(self, name: str) -> None:
        self._entry(name)
        self.spark.catalog.dropTempView(name)
        del self._entries[name]
        self._reg_versions.pop(name, None)
        # Derived time-travel aliases die with their base name: a later
        # registration of a DIFFERENT store under the same name must not
        # resolve `name VERSION AS OF n` to the old store's snapshot.
        self._drop_asof_aliases(name)

    # -- query surface -----------------------------------------------------

    def sql(self, query: str, args: dict | list | None = None) -> DataFrame:
        """``spark.sql`` with named/positional parameter binding (the
        injection-safe front-end — parameters reach Catalyst as literals so
        constant folding and pushdown still apply).

        DML statements (``INSERT INTO|OVERWRITE / UPDATE / DELETE FROM /
        MERGE INTO`` a registered TableStore name) are parsed by Spark's
        own SQL parser and routed on the plan node to the owning store's
        transactional DML — file skipping from the WHERE, dv modes, CDF
        and snapshot-conflict detection all intact. Shapes the store
        cannot express (PARTITION specs, conditional or column-list MERGE
        inserts, scalar or correlated subqueries, a DELETE without WHERE,
        ...) raise ``ValueError`` saying what to write instead; see
        :mod:`lakehouse_spark.sqldml` for the routes. DML on dotted or
        unregistered names goes to ``spark.sql``. The mutated view is
        refreshed to the new head. Returns the one-row metrics frame
        ``(op, table, affected_rows)`` for DML. Delta's maintenance
        statements (DESCRIBE HISTORY/DETAIL, VACUUM, OPTIMIZE, RESTORE,
        ALTER TABLE column/constraint forms, CTAS with LOCATION) route to
        the store as well."""
        from lakehouse_spark import sqldml

        if sqldml.is_dml(query) or sqldml.is_util(query):
            if args is not None:
                raise ValueError(
                    "parameter binding is not supported for DML/maintenance "
                    "statements; inline literals (the router parses them "
                    "for file skipping)"
                )
            if sqldml.is_util(query):
                return sqldml.route_util(self, query)
            return sqldml.route(self, query)
        self._refresh_followers(query)
        query = self._rewrite_time_travel(query)
        return (
            self.spark.sql(query, args=args)
            if args is not None
            else self.spark.sql(query)
        )

    def _rewrite_time_travel(self, query: str) -> str:
        """Inline SQL time travel (Delta's ``SELECT ... FROM t VERSION AS
        OF 3`` / ``TIMESTAMP AS OF '...'``): each travel clause after
        FROM/JOIN on a store-backed registration is resolved to a pinned
        snapshot view and the clause replaced by that view's name, so the
        rest of the query plans unchanged. Requiring the FROM/JOIN anchor
        keeps the rewrite out of string literals and projection
        expressions; non-registered names (and change-feed views, whose
        version range is explicit instead) pass through untouched for
        Spark to resolve."""
        import re as _re

        pat = _re.compile(
            r"\b(FROM|JOIN)\s+([A-Za-z_][A-Za-z0-9_]*)\s+"
            r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')",
            _re.I,
        )
        # Aliases minted while rewriting THIS statement are exempt from
        # FIFO eviction until the statement has run: a single query with
        # more than _TS_ALIAS_CAP distinct timestamps on one table would
        # otherwise drop a temp view its own rewritten SQL still
        # references. Conversely, any over-cap surplus a PREVIOUS such
        # statement left behind is drained now, before new aliases mint.
        for base_fifo in self._ts_aliases.values():
            self._evict_ts_surplus(base_fifo)
        fresh: set[str] = set()

        def _sub(m):
            kw, name, ver, ts = m.groups()
            store, opts = self._entries.get(name, (None, {}))
            if store is None or opts.get("changes"):
                return m.group(0)
            if ver is not None:
                alias = f"{name}__asof_v{ver}"
                if alias in self._entries:
                    # Same VERSION clause seen before: a version's snapshot
                    # is immutable — reuse the pinned view, no second
                    # snapshot read or view rebuild.
                    return f"{kw} {alias}"
                df = store.read(version=int(ver))
                pin = {"version": int(ver)}
            else:
                # Hash-keyed alias: a sanitized-string key collides for
                # distinct timestamps that differ only in punctuation
                # ('2024-01-01' vs '2024:01:01'), and two different
                # TIMESTAMP clauses in one query would then share one
                # view. md5 of the raw string is collision-proof.
                import hashlib as _hl

                h = _hl.md5(ts.encode()).hexdigest()[:10]
                alias = f"{name}__asof_t{h}"
                # TIMESTAMP aliases always re-resolve: a ts at or past the
                # newest commit maps to the head NOW but to a different
                # version after the next commit lands — caching the first
                # resolution would silently serve the stale snapshot.
                df = store.read(as_of=ts)
                pin = {"as_of": ts}
                fifo = self._ts_aliases.setdefault(name, [])
                if alias in fifo:
                    fifo.remove(alias)
                fifo.append(alias)
                fresh.add(alias)
                # Cap live ts aliases per base, but never evict one minted
                # for the statement being rewritten (the fifo may exceed
                # the cap transiently; the next statement's rewrite drains
                # it back down via the pre-pass above).
                self._evict_ts_surplus(fifo, exempt=fresh)
            df.createOrReplaceTempView(alias)
            self._entries[alias] = (store, pin)
            return f"{kw} {alias}"

        return pat.sub(_sub, query)

    def _evict_ts_surplus(self, fifo: list, exempt: set | None = None) -> None:
        """Drop oldest TIMESTAMP AS OF aliases until ``fifo`` is back at
        _TS_ALIAS_CAP, never touching ``exempt`` (the statement currently
        being rewritten still references those views)."""
        while len(fifo) > _TS_ALIAS_CAP:
            evictable = (
                [a for a in fifo if a not in exempt] if exempt else fifo
            )
            if not evictable:
                break
            old = evictable[0]
            fifo.remove(old)
            self.spark.catalog.dropTempView(old)
            self._entries.pop(old, None)

    def _refresh_followers(self, query: str) -> None:
        """Re-resolve every ``follow_head`` registration the query text
        references (word-boundary match; a false positive costs one cheap
        pointer re-read, never correctness). Re-registration (snapshot
        load + view plan rebuild) only happens when the head actually
        moved past the version the view was resolved at."""
        import re as _re

        for name, (store, opts) in list(self._entries.items()):
            if (
                store is not None
                and opts.get("follow_head")
                and _re.search(rf"\b{_re.escape(name)}\b", query, _re.I)
                and store.current_version() != self._reg_versions.get(name)
            ):
                self.register(name, store=store, **opts)

    def table(self, name: str) -> DataFrame:
        store, opts = self._entry(name)
        if store is not None and opts.get("follow_head"):
            if store.current_version() != self._reg_versions.get(name):
                return self.register(name, store=store, **opts)
        return self.spark.table(name)

    def names(self) -> list[str]:
        return sorted(self._entries)

    def _entry(self, name: str) -> tuple[object | None, dict]:
        try:
            return self._entries[name]
        except KeyError:
            raise KeyError(
                f"no table {name!r} registered; have {self.names()}"
            ) from None
