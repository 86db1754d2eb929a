"""Output checks, run after the timed units.

- queries: DuckDB oracle parity with ``registry.oracle_sql()`` on the
  same generated inputs; the production IVF path by recall against
  exact ``embedding_knn``.
- ETL: DuckDB expectations over the dirty input for DWH row counts,
  NOT NULL violations, imputed means and sentinel counts.
- stream: store totals, minutely hashes and per-product counters equal
  DuckDB aggregates over the event files.

Each check returns a list of failure messages; empty means it passed.
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb
import pandas as pd

IVF_RECALL_FLOOR = 0.3  # the floor tests/test_operators.py holds ann_ivf to
SENTINEL = "1900-01-01 00:00:00"


def duck_over(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from ecom_etl_proj_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def col(s: pd.Series) -> pd.Series:
        if pd.api.types.is_float_dtype(s):
            return s.round(6)
        if pd.api.types.is_datetime64_any_dtype(s):
            return s.astype("datetime64[us]")
        return s

    out = df.apply(col)
    return out.sort_values(by=list(out.columns), ignore_index=True).astype(str)


def oracle_parity(results: dict, con, names) -> list[str]:
    """Spark result of each registry query equals its DuckDB oracle
    (columns, rows, order-insensitive values)."""
    from ecom_etl_proj_spark.plans import registry

    oracles = registry.oracle_sql()
    bad = []
    for name in names:
        if name not in results:
            bad.append(f"{name}: no result")
            continue
        if name not in oracles:
            bad.append(f"{name}: no oracle")
            continue
        got = _normalize(results[name])
        want = _normalize(con.execute(oracles[name]).fetchdf())
        if list(got.columns) != list(want.columns):
            bad.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            bad.append(f"{name}: rows {len(got)} != {len(want)}")
        elif not got.equals(want):
            bad.append(f"{name}: values differ")
    return bad


def ivf_recall(exact_df: pd.DataFrame, approx_df: pd.DataFrame) -> list[str]:
    """The production IVF (Lloyd-refined) recovers at least the tested
    share of the exact top-k, with exact similarities on shared pairs."""
    def pairs(df: pd.DataFrame) -> dict:
        return dict(zip(zip(df["query_id"], df["neighbor_id"]), df["cosine_sim"]))

    exact, approx = pairs(exact_df), pairs(approx_df)
    bad = [f"ann_ivf_prod: sim {p}" for p, s in approx.items()
           if p in exact and abs(s - exact[p]) > 1e-9]
    recall = len(set(approx) & set(exact)) / max(1, len(exact))
    if recall < IVF_RECALL_FLOOR:
        bad.append(f"ann_ivf_prod: recall {recall:.3f} < {IVF_RECALL_FLOOR}")
    return bad


def etl_outputs(dirty_dir: str, lake: str, results) -> list[str]:
    """DWH tables written by the DAG against expectations computed by
    DuckDB from the dirty ODS input."""
    bad = [f"etl.{n}: {r.state}" for n, r in results.items() if r.state != "success"]
    if bad:
        return bad
    con = duck_over(dirty_dir)
    dwh = os.path.join(lake, "dwh")

    def scan(t: str) -> str:
        return f"read_parquet('{dwh}/{t}/**/*.parquet', hive_partitioning=true)"

    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    want_rows = {
        "dim_geo": one("SELECT count(*) + 1 FROM nation"),
        "dim_customer": one("SELECT count(DISTINCT c_custkey) FROM customer"),
        "dim_part": one("SELECT count(DISTINCT p_partkey) FROM part"),
        "dim_supplier": one("SELECT count(DISTINCT s_suppkey) FROM supplier"),
        "fact_sales": one(
            "SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)"
        ),
    }
    reported = results["dwh"].result
    for t, n in want_rows.items():
        got = one(f"SELECT count(*) FROM {scan(t)}")
        if got != n or reported.get(t) != n:
            bad.append(f"dwh.{t}: rows {got} (reported {reported.get(t)}) != {n}")
    viol = results["validate"].result
    if any(viol.values()):
        bad.append(f"dwh: NOT NULL violations {viol}")
    mean = one("SELECT avg(p_retailprice) FROM part")
    imputed = con.execute(
        f"SELECT d.p_retailprice FROM {scan('dim_part')} d "
        "JOIN part p ON d.p_partkey = p.p_partkey WHERE p.p_retailprice IS NULL"
    ).fetchall()
    n_null = one("SELECT count(*) FROM part WHERE p_retailprice IS NULL")
    if len(imputed) != n_null or any(abs(v - mean) > 0.005 + 1e-9 for (v,) in imputed):
        bad.append(f"dim_part: imputed prices differ from mean {mean:.4f}")
    want_ship = one(
        "SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem "
        "WHERE l_shipdate IS NULL)"
    )
    want_order = one(
        "SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem) l "
        "JOIN (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderdate IS NULL) o "
        "ON l.l_orderkey = o.o_orderkey"
    )
    got_ship = one(f"SELECT count(*) FROM {scan('fact_sales')} WHERE l_shipdate = TIMESTAMP '{SENTINEL}'")
    got_order = one(f"SELECT count(*) FROM {scan('fact_sales')} WHERE o_orderdate = TIMESTAMP '{SENTINEL}'")
    if (got_ship, got_order) != (want_ship, want_order):
        bad.append(
            f"fact_sales: sentinels ship={got_ship} order={got_order}, "
            f"want {want_ship}/{want_order}"
        )
    return bad


def stream_store(store, stream_dir: str) -> list[str]:
    """The served store against DuckDB aggregates over the event files."""
    from ecom_etl_proj_spark.streaming.serving import FAMILY, MINUTELY_KEY

    con = duckdb.connect()
    fam_case = "CASE event_type " + " ".join(
        f"WHEN '{et}' THEN '{fam}'" for et, fam in FAMILY.items()
    ) + " END"
    con.execute(
        f"CREATE VIEW e AS SELECT *, {fam_case} AS fam, "
        "strftime(date_trunc('minute', ts), '%Y-%m-%d-%H-%M') AS minute, "
        "CAST(json_extract(props, '$.k') AS BIGINT) AS product_id "
        f"FROM '{stream_dir}/*.parquet' WHERE event_type IN "
        f"({', '.join(repr(k) for k in FAMILY)})"
    )
    bad = []
    totals = store.hgetall("metrics:totals")
    for fam, n in con.execute("SELECT fam, count(*) FROM e GROUP BY fam").fetchall():
        if totals.get(f"total_{fam}") != n:
            bad.append(f"totals.{fam}: {totals.get(f'total_{fam}')} != {n}")
    revenue = con.execute(
        "SELECT sum(CAST(value AS DECIMAL(18,6))) FROM e WHERE fam = 'orders'"
    ).fetchone()[0]
    if Decimal(str(totals.get("total_revenue"))) != Decimal(str(revenue)):
        bad.append(f"totals.revenue: {totals.get('total_revenue')} != {revenue}")
    for fam, key in MINUTELY_KEY.items():
        want = dict(con.execute(
            f"SELECT minute, count(*) FROM e WHERE fam = '{fam}' GROUP BY minute"
        ).fetchall())
        if store.hgetall(key) != want:
            bad.append(f"{key}: differs")
        want_p = {str(k): v for k, v in con.execute(
            f"SELECT product_id, count(*) FROM e WHERE fam = '{fam}' "
            "AND product_id IS NOT NULL GROUP BY product_id"
        ).fetchall()}
        if store.hgetall(f"product:{fam}") != want_p:
            bad.append(f"product:{fam}: differs")
    return bad
