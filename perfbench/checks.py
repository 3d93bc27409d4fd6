"""Correctness checks, run outside every timed region.

Outputs are compared order-insensitively: columns lower-cased and
sorted, floats rounded to 6 decimals, maps and structs as sorted tuples,
rows sorted by their canonical form. Each checker returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import datetime

import duckdb
import numpy as np
import pandas as pd


def canon(v):
    t = type(v)
    if t is float:
        return None if v != v else round(v, 6) + 0.0
    if t is int or t is str or t is bool or v is None:
        return v
    if t is dict:
        return tuple(sorted((canon(k), canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return canon(v.asDict())
    if isinstance(v, (float, np.floating)):
        return canon(float(v))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, np.datetime64)) or v is pd.NaT:
        return None if pd.isna(v) else pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon(x) for x in v)
    return v


def canon_rows(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns, key=str.lower)
    rows = [tuple(canon(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return [c.lower() for c in cols], rows


def compare(name: str, actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    a_cols, a_rows = canon_rows(actual)
    e_cols, e_rows = canon_rows(expected)
    if a_cols != e_cols:
        return [f"{name}: columns {a_cols} != expected {e_cols}"]
    if len(a_rows) != len(e_rows):
        return [f"{name}: {len(a_rows)} rows != expected {len(e_rows)}"]
    if a_rows != e_rows:
        bad = next(i for i, (x, y) in enumerate(zip(a_rows, e_rows)) if x != y)
        return [f"{name}: rows differ (first at sorted row {bad}: {a_rows[bad]!r:.200} vs {e_rows[bad]!r:.200})"]
    return []


# --- token_etl_batch: DuckDB replay of the whole batch ----------------------

_EDGES_SQL = """
SELECT concat_ws('_', CAST(r.log_index AS VARCHAR), CAST(r.block_number AS VARCHAR),
                 'wallets/' || r.from_address, 'wallets/' || r.to_address,
                 r.transaction_hash) AS _key,
       'wallets/' || r.from_address AS _from,
       'wallets/' || r.to_address AS _to,
       r.contract_address, r.transaction_hash, r.log_index, r.block_number, r.value,
       CAST(b.timestamp AS VARCHAR) AS transact_at
FROM raw r LEFT JOIN bt b USING (block_number)
"""

#: the windowed edge scan every changelog pipeline reads (the reference's
#: time-range collection scan): edges without a timestamp fall outside it
_SCOPED_SQL = """
SELECT *, CAST(transact_at AS BIGINT) AS ts_sec,
       CAST(floor(CAST(transact_at AS BIGINT) / 3600) * 3600 AS BIGINT) AS hour_ts,
       CAST(floor(CAST(transact_at AS BIGINT) / 86400) * 86400 AS BIGINT) AS day_ts
FROM edges
WHERE CAST(transact_at AS BIGINT) BETWEEN {lo} AND {hi}
"""

_STRIP = "CASE WHEN contains({c}, '/') THEN split_part({c}, '/', 2) ELSE {c} END"

# SQL_WALLET_PIPELINE's flow/cumsum shape plus the densify scaffold and the
# whale flag of pipelines.wallets
_WALLETS_SQL = f"""
WITH flows AS (
  SELECT contract_address, address, hour_ts AS ts, sum(sv) AS hourly_balance
  FROM (SELECT contract_address, hour_ts, _from AS address, -value AS sv FROM scoped
        UNION ALL
        SELECT contract_address, hour_ts, _to AS address, value AS sv FROM scoped) u
  GROUP BY 1, 2, 3),
bal AS (
  SELECT contract_address, address, ts,
         sum(hourly_balance) OVER (PARTITION BY contract_address, address ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
  FROM flows),
dense AS (
  SELECT k.contract_address, k.address, t.ts, b.balance
  FROM (SELECT DISTINCT contract_address, address FROM bal) k
  JOIN (SELECT DISTINCT contract_address, ts FROM bal) t USING (contract_address)
  LEFT JOIN bal b ON b.contract_address = k.contract_address
                 AND b.address = k.address AND b.ts = t.ts),
filled AS (
  SELECT contract_address, address, ts,
         last_value(balance IGNORE NULLS) OVER (PARTITION BY contract_address, address
             ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
  FROM dense),
flagged AS (
  SELECT f.*, coalesce(f.balance >= m.circulating_supply * m.whale_threshold, false) AS is_whale
  FROM filled f LEFT JOIN meta m USING (contract_address)
  WHERE f.balance IS NOT NULL)
SELECT contract_address || '_' || {_STRIP.format(c="address")} AS _key,
       {_STRIP.format(c="address")} AS address,
       list(struct_pack(k := ts, v := struct_pack(isWhale := is_whale, balance := balance))
            ORDER BY ts) AS balanceChangeLogs
FROM flagged GROUP BY contract_address, address
"""

_MATCHED_SQL = f"""
SELECT s.*, d._id AS idCMC, d.name AS dapp_name, d.image
FROM (SELECT *, {_STRIP.format(c="ep")} AS address
      FROM (SELECT *, unnest([_from, _to]) AS ep FROM scoped)) s
JOIN (SELECT _id, name, image, unnest(contract_addresses) AS dapp_address FROM registry) d
  ON s.address = d.dapp_address
"""


def _changelog(inner: str, ts: str, out: str) -> str:
    return (
        f"(SELECT contract_address, list(struct_pack(k := {ts}, v := v) ORDER BY {ts}) AS {out} "
        f"FROM ({inner}) GROUP BY contract_address)"
    )


_BALANCES_SQL = """
SELECT contract_address, address, hour_ts,
       sum(net) OVER (PARTITION BY contract_address, address ORDER BY hour_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
FROM (SELECT contract_address, address, hour_ts, sum(sv) AS net
      FROM (SELECT contract_address, hour_ts, _from AS address, -value AS sv FROM scoped
            UNION ALL
            SELECT contract_address, hour_ts, _to AS address, value AS sv FROM scoped) u
      GROUP BY 1, 2, 3)
"""

_TOKENS_SQL = f"""
SELECT tx.contract_address, m.name, m.symbol, txChanges, tradingVolumeChanges,
       uniqueAddressChanges, avgTransactionPerDayChanges, holderChanges, whaleChanges,
       dappChanges
FROM {_changelog("SELECT contract_address, hour_ts, count(*) AS v FROM scoped GROUP BY 1, 2", "hour_ts", "txChanges")} tx
JOIN {_changelog("SELECT contract_address, hour_ts, sum(value) AS v FROM scoped GROUP BY 1, 2", "hour_ts", "tradingVolumeChanges")} vol USING (contract_address)
JOIN {_changelog("SELECT contract_address, hour_ts, count(DISTINCT a) AS v FROM (SELECT contract_address, hour_ts, unnest([_from, _to]) AS a FROM scoped) GROUP BY 1, 2", "hour_ts", "uniqueAddressChanges")} uq USING (contract_address)
JOIN {_changelog("SELECT contract_address, day_ts, count(*) / 24.0 AS v FROM scoped GROUP BY 1, 2", "day_ts", "avgTransactionPerDayChanges")} av USING (contract_address)
JOIN {_changelog(f"SELECT contract_address, hour_ts, sum(CASE WHEN balance > 0 THEN 1 ELSE 0 END) AS v FROM ({_BALANCES_SQL}) GROUP BY 1, 2", "hour_ts", "holderChanges")} ho USING (contract_address)
JOIN {_changelog(f"SELECT b.contract_address, hour_ts, sum(CASE WHEN balance >= m.circulating_supply * m.whale_threshold THEN 1 ELSE 0 END) AS v FROM ({_BALANCES_SQL}) b JOIN meta m USING (contract_address) GROUP BY 1, 2", "hour_ts", "whaleChanges")} wh USING (contract_address)
JOIN {_changelog(f"SELECT contract_address, hour_ts, count(DISTINCT idCMC) AS v FROM ({_MATCHED_SQL}) GROUP BY 1, 2", "hour_ts", "dappChanges")} dp USING (contract_address)
LEFT JOIN meta m USING (contract_address)
"""

_DAPPS_SQL = f"""
SELECT contract_address || '_' || idCMC AS _key, idCMC, dapp_name AS name,
       coalesce(image, 'default.png') AS image,
       list_sort(list(DISTINCT address)) AS addresses, contract_address
FROM ({_MATCHED_SQL}) GROUP BY contract_address, idCMC, dapp_name, image
"""


def _entries_to_maps(pdf: pd.DataFrame, columns) -> pd.DataFrame:
    """DuckDB lists of {k, v} entries → the dicts Spark maps collect to."""
    pdf = pdf.copy()
    for c in columns:
        pdf[c] = [None if e is None else {x["k"]: x["v"] for x in e} for e in pdf[c]]
    return pdf


def etl_expected(raw: pd.DataFrame, bt: pd.DataFrame, meta: pd.DataFrame,
                 registry: pd.DataFrame, window: tuple[int, int]) -> dict[str, pd.DataFrame]:
    """Every collection a token-ETL batch writes, replayed in DuckDB."""
    con = duckdb.connect()
    try:
        for name, pdf in (("raw", raw), ("bt", bt), ("meta", meta), ("registry", registry)):
            con.register(name, pdf)
        con.execute(f"CREATE TABLE edges AS {_EDGES_SQL}")
        con.execute(f"CREATE TABLE scoped AS {_SCOPED_SQL.format(lo=window[0], hi=window[1])}")
        out = {
            "transfers": con.execute("SELECT * FROM edges").df(),
            "wallets": _entries_to_maps(con.execute(_WALLETS_SQL).df(), ["balanceChangeLogs"]),
            "tokens": _entries_to_maps(
                con.execute(_TOKENS_SQL).df(),
                ["txChanges", "tradingVolumeChanges", "uniqueAddressChanges",
                 "avgTransactionPerDayChanges", "holderChanges", "whaleChanges", "dappChanges"],
            ),
            "dapps": con.execute(_DAPPS_SQL).df(),
        }
    finally:
        con.close()
    return out


def check_etl(actual: dict[str, pd.DataFrame], expected: dict[str, pd.DataFrame]) -> list[str]:
    problems = []
    for name, exp in expected.items():
        if name not in actual:
            problems.append(f"{name}: collection missing")
        else:
            problems += compare(name, actual[name], exp)
    return problems


# --- query_mix: each query against its registered oracle --------------------

def oracle_frames(table_dir: str, tables, oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
        return {name: con.execute(sql).df() for name, sql in oracles.items()}
    finally:
        con.close()

