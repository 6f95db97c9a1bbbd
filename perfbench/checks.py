"""Correctness checks: every result the benchmark times is compared,
outside the timed window, against a DuckDB oracle over the same
generated inputs. Each function returns a list of problems (empty means
the result is correct)."""

from __future__ import annotations

import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

from dbt_jaffleshop_spark.testing.parity import canonical_rows, compare_frames

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def connect(data_dir: str, overrides: dict[str, str] | None = None) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per source table of ``data_dir``; ``overrides``
    maps a table name to another parquet path (e.g. the curate sample)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in TABLES:
        path = (overrides or {}).get(name, os.path.join(data_dir, f"{name}.parquet"))
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def problems(got: pd.DataFrame, want: pd.DataFrame, label: str) -> list[str]:
    """``compare_frames``'s verdict: same columns, and the same multiset of
    canonical rows. Canonical text costs about a second per 50,000 rows,
    so equal frames are first recognised by ``_identical``; and the
    mismatch report of ``compare_frames`` looks up every row in a set it
    rebuilds per row, which takes minutes at these table sizes, so a
    value mismatch is reported here from the same canonical rows."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{label}: {p}" for p in compare_frames(got, want)]
    if _identical(got, want):
        return []
    a, b = Counter(canonical_rows(got)), Counter(canonical_rows(want))
    if a == b:
        return []
    only_got, only_want = a - b, b - a
    return [
        f"{label}: {len(got)} rows, oracle {len(want)}; "
        f"{sum(only_got.values())} rows only in the result (e.g. {list(only_got)[:2]}), "
        f"{sum(only_want.values())} only in the oracle (e.g. {list(only_want)[:2]})"
    ]


def _identical(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """A fast, sufficient test for equal canonical rows: the same dtypes
    (integers of any width alike), and after sorting both by every
    column, equal values cell by cell (NaN matching NaN, the sign of a
    float zero and, in object columns, the Python type included, since
    canonical text depends on both).
    False means only "not shown here"; the caller then compares
    canonical rows."""
    cols = sorted(got.columns)
    if len(got) != len(want):
        return False
    got, want = got[cols].copy(), want[cols].copy()
    for c in cols:
        # an integer's canonical text does not depend on its width
        if got[c].dtype != want[c].dtype and {got[c].dtype.kind, want[c].dtype.kind} <= set("iu"):
            got[c], want[c] = got[c].astype("int64"), want[c].astype("int64")
        if got[c].dtype != want[c].dtype:
            return False
    try:
        g = got.sort_values(cols, ignore_index=True)
        w = want.sort_values(cols, ignore_index=True)
        for c in cols:
            a, b = g[c], w[c]
            if not a.equals(b):
                return False
            if a.dtype.kind == "f" and (np.signbit(a.to_numpy()) != np.signbit(b.to_numpy())).any():
                return False
            if a.dtype == object and list(map(type, a)) != list(map(type, b)):
                return False
    except (TypeError, ValueError):  # unorderable or uncomparable cells
        return False
    return True


def frame_problems(con, sql: str, got: pd.DataFrame, label: str) -> list[str]:
    return problems(got, con.sql(sql).df(), label)


def committed_frame(con, table_path: str) -> pd.DataFrame:
    """An ``AcidTable``'s committed snapshot, read by DuckDB from the
    files its current manifest lists (partition columns, which live in
    the directory names, are left out). Timestamps come back naive UTC,
    as the oracles produce them."""
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    table = AcidTable(table_path)
    files = ", ".join(f"'{os.path.join(table.data_dir, f)}'" for f in table.manifest()["files"])
    if not files:  # an empty snapshot: the oracle comparison reports the rows
        return pd.DataFrame()
    df = con.sql(f"SELECT * FROM read_parquet([{files}], hive_partitioning = false)").df()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_localize(None)
    return df


def status_problems(results: dict[str, dict]) -> list[str]:
    """A pipeline run is correct only if every model, its tests, and
    every export report status ``ok``."""
    return [f"{n}: status {r.get('status')}" for n, r in results.items() if r.get("status") != "ok"]


def mart_sql(name: str) -> str:
    from dbt_jaffleshop_spark.queries.oracle_jaffle import jaffle_sql

    return jaffle_sql(name)


def saved_query_sql(name: str) -> str:
    from dbt_jaffleshop_spark.semantic.jaffle_models import SAVED_QUERIES

    return SAVED_QUERIES[name].to_oracle_sql()


def scan_count_sql(mart: str, date_range: tuple[str, str]) -> str:
    lo, hi = date_range
    return (
        f"SELECT count(*) AS n FROM ({mart_sql(mart)}) m "
        f"WHERE ordered_at >= TIMESTAMP '{lo}' AND ordered_at <= TIMESTAMP '{hi}'"
    )


def count_problems(con, sql: str, got: int, label: str) -> list[str]:
    want = int(con.sql(sql).fetchone()[0])
    return [] if want == got else [f"{label}: count {got}, oracle {want}"]


def dedup_expected(con, hi: int) -> pd.DataFrame:
    """Full star-semantics recompute over the documents up to ``hi`` — the
    end state every build → fold sequence must reach. Pairs come
    from the engine's MinHash star oracle SQL; components are labelled
    here by union-find with the oracle's convention (cluster_id = the
    smallest member id, cluster_size = member count, only documents in
    some pair), which DuckDB's recursive reachability computes too, but
    about ten times slower at this size."""
    from dbt_jaffleshop_spark.llm.dedup import _minhash_oracle

    pairs = con.sql(_minhash_oracle(
        star=True, source=f"(SELECT * FROM documents WHERE doc_id <= {hi})"
    )).fetchall()
    root: dict[int, int] = {}

    def find(x: int) -> int:
        while root.setdefault(x, x) != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    label = {x: find(x) for x in root}
    size: dict[int, int] = {}
    for c in label.values():
        size[c] = size.get(c, 0) + 1
    return pd.DataFrame(
        {
            "doc_id": list(label),
            "cluster_id": list(label.values()),
            "cluster_size": [size[c] for c in label.values()],
        }
    )


def merge_sql(maint_dir: str) -> str:
    """The maintained table after the merge upsert and the one-month
    restatement, folded in DuckDB from the same input files."""
    f = lambda n: f"read_parquet('{os.path.join(maint_dir, n)}')"  # noqa: E731
    return f"""
WITH merged AS (
    SELECT * FROM {f('fact.parquet')}
    WHERE order_id NOT IN (SELECT order_id FROM {f('updates.parquet')})
    UNION ALL SELECT * FROM {f('updates.parquet')}
),
restate AS (SELECT * FROM {f('restate.parquet')})
SELECT *, CAST(date_trunc('month', ordered_at) AS DATE) AS order_month FROM merged
WHERE date_trunc('month', ordered_at) NOT IN
      (SELECT DISTINCT date_trunc('month', ordered_at) FROM restate)
UNION ALL
SELECT *, CAST(date_trunc('month', ordered_at) AS DATE) AS order_month FROM restate
"""


def stream_sql() -> str:
    from dbt_jaffleshop_spark.streaming.upsert import ORACLES

    return ORACLES["streaming_upsert_state"]


def operator_sql(name: str) -> str:
    from dbt_jaffleshop_spark.llm import dedup, multimodal, similarity, text

    for mod in (text, multimodal, dedup, similarity):
        if name in mod.ORACLES:
            return mod.ORACLES[name]
    raise KeyError(name)
