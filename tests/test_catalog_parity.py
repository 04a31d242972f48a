"""Differential tests: every SQL-expressible catalog query must match the
DuckDB oracle (row count + schema + order-insensitive value hash) — the same
check the driver's correctness gate runs, executed at sf0.001 for speed.
"""

from __future__ import annotations

import pytest

from lakehouse_spark import oracle
from lakehouse_spark.queries import CATALOG

from tests.conftest import SF_SMALL

_NAMES = list(CATALOG)


@pytest.fixture(scope="module")
def duck(spark):
    return oracle.duckdb_connect(SF_SMALL)


@pytest.mark.parametrize("name", _NAMES)
def test_catalog_query_matches_oracle(spark, duck, name):
    spec = CATALOG[name]
    if spec.oracle is None:
        # rows-only check: must run and be non-degenerate
        df = spec.build(spark, SF_SMALL)
        assert df.count() >= 0
        return
    res = oracle.compare(name, spec.build(spark, SF_SMALL), duck, spec.oracle)
    assert res.schema_match, f"{name}: {res.spark_cols} != {res.oracle_cols}"
    assert res.spark_rows == res.oracle_rows, f"{name}: row count mismatch"
    assert res.hash_match, f"{name}: value hash mismatch"


def test_catalog_covers_headline_suite():
    assert sum(s.headline for s in CATALOG.values()) >= 5


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(CATALOG)


def test_driver_correctness_names_are_stable():
    """The driver's CORRECTNESS scoreboard keys on these exact entry names
    (the round-1 set). Renaming any of them silently drops the entry from
    the official gate — fail here instead."""
    DRIVER_SET = {
        "a1_group_count", "a2_running_counters", "a3_metrics_argmax",
        "a5_collect_per_group", "a6_duplicate_keys", "agg_distinct_count",
        "d1_exact_dedup", "d2_first_wins", "d3_union_dedup",
        "dedup_embedding_cosine", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_simhash", "f1_and_equality_filter", "f2_time_range",
        "f4_prefix_filter", "f5_ci_prefix", "flagship_pricing_summary",
        "j1_semi_join_fetch", "j2_parent_child_self_join",
        "j3_recursive_descendants", "j5_fk_lookup_chain", "j6_history_topk",
        "j7_union_resort", "j9_nearest_ancestor", "o1_top_n",
        "o2_offset_page", "o4_tail_per_group", "o5_completion_sort",
        "rollup_time_buckets", "s1_sessionize_flat", "s3_truncation",
        "sim_ivf_topk", "sim_topk_bruteforce", "skew_salted_agg",
        "t17_json_extract", "t1_mention_tokens", "t4_sha256",
        "t7_month_format", "t8_date_arithmetic", "text_fingerprint",
        "text_langid", "text_quality", "text_tokens",
        "tpch_q14_promo_revenue", "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume", "w1_turn_numbering",
        "w2_pre_post_pairing", "w3_lag_gaps",
    }
    missing = DRIVER_SET - set(CATALOG)
    assert not missing, f"driver-scoreboard entries renamed/removed: {missing}"


def test_sketch_aggregates_track_exact_within_bounds(spark):
    """agg_sketches is approximate by design. Since round 12 the entry is
    SELF-CHECKING (oracle-hashable): it emits the exact per-group answers
    plus booleans pinning each sketch to its bound (HLL within 3x the
    default 5% rsd, the quantile sketch's p50 inside the exact p45..p55
    band). Pin the exact values against an independent computation and
    assert every bound boolean holds."""
    from pyspark.sql import functions as F

    from lakehouse_spark.io import load_table

    sf = SF_SMALL
    li = load_table(spark, sf, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.countDistinct("l_suppkey").alias("supps"),
        )
        .collect()
    }
    got = {
        r.l_returnflag: r
        for r in CATALOG["agg_sketches"].build(spark, sf).collect()
    }
    assert set(got) == set(exact)
    for flag, a in got.items():
        e = exact[flag]
        assert a.exact_parts == e.parts, flag
        assert a.exact_supps == e.supps, flag
        assert a.parts_in_bound and a.supps_in_bound, flag
        assert a.p50_in_band, flag


def test_rounded_mean_tie_matches_oracle(spark, tmp_path):
    """A group whose exact mean sits on a rounding tie (4721.59625) must
    round the same way in the builder and the DuckDB oracle: HALF-UP to
    4721.5963. Rounding the double mean let the engines break the tie
    differently (Spark .5963, DuckDB .5962)."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for t in ("nation", "region"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", tmp_path / f"{t}.parquet")
    cust = pq.read_table(f"{SF_SMALL}/customer.parquet")
    cust = cust.filter(pc.not_equal(cust["c_nationkey"], 4))
    tie = cust.slice(0, 2).to_pylist()
    for row, bal in zip(tie, (4721.5962, 4721.5963)):
        row.update(c_custkey=row["c_custkey"] + 10**6, c_nationkey=4, c_acctbal=bal)
    cust = pa.concat_tables([cust, pa.Table.from_pylist(tie, cust.schema)])
    pq.write_table(cust, tmp_path / "customer.parquet")
    con = duckdb.connect()
    for t in ("customer", "nation", "region"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    spec = CATALOG["j5_fk_lookup_chain"]
    df = spec.build(spark, str(tmp_path))
    got = {r.n_name: r.avg_bal for r in df.collect()}
    nation4 = con.sql("SELECT n_name FROM nation WHERE n_nationkey = 4").fetchone()[0]
    assert got[nation4] == 4721.5963
    res = oracle.compare("j5_fk_lookup_chain", df, con, spec.oracle)
    assert res.spark_rows == res.oracle_rows and res.hash_match
