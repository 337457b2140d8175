"""Output checks, run outside the timed window: DuckDB recomputations
over the generated tables and the program's stored outputs."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def normalize(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Order-insensitive form: columns by name, rows sorted, values as
    exact strings."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def events_conn(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{os.path.join(data_dir, 'events.parquet')}'"
    )
    return con


def matches_oracle(con: duckdb.DuckDBPyConnection, sql: str, columns: list[str],
                   rows: list[tuple]) -> bool:
    rel = con.sql(sql)
    return normalize(columns, rows) == normalize(list(rel.columns), rel.fetchall())


def duplicate_ids(parquet_dir: str, key: str = "event_id") -> int:
    return duckdb.sql(
        f"SELECT count(*) - count(DISTINCT {key}) FROM "
        f"read_parquet('{parquet_dir}/**/*.parquet')"
    ).fetchone()[0]


# operators.relational volume_zscore -> flag_anomalies over the stored
# volume history, restricted to virtual batches <= {bmax}
_FLAGGED_SQL = """
WITH h AS (
    SELECT cluster_id, batch_id, log_count FROM hist WHERE batch_id <= {bmax}
), f AS (
    SELECT cluster_id, batch_id,
           round((log_count - avg(log_count) OVER w5)
                 / (stddev_pop(log_count) OVER w5 + 1e-5), 4) AS deviation,
           count(*) OVER (PARTITION BY cluster_id) AS n_points,
           row_number() OVER w AS seq
    FROM h
    WINDOW w AS (PARTITION BY cluster_id ORDER BY batch_id),
           w5 AS (PARTITION BY cluster_id ORDER BY batch_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
), latest AS (
    SELECT cluster_id, -abs(deviation) AS score,
           row_number() OVER (PARTITION BY cluster_id ORDER BY batch_id DESC) AS rn
    FROM f WHERE n_points >= 5 AND seq >= 5
), sc AS (SELECT cluster_id, score FROM latest WHERE rn = 1),
st AS (SELECT avg(score) AS mu, stddev_pop(score) AS sigma, count(*) AS n FROM sc),
fl AS (SELECT sc.* FROM sc, st WHERE (score - mu) / (sigma + 1e-9) < -1.0),
nf AS (SELECT count(*) AS nf FROM fl)
SELECT fl.cluster_id FROM fl, nf, st WHERE nf <= 0.3 * n
ORDER BY score, cluster_id LIMIT 3
"""


def expected_incidents(history_dir: str, batch_maxes: list[int]) -> list[set[int]]:
    """Clusters each scoring batch should open, in order: the flagged set
    over the history visible to that batch minus clusters already open."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW hist AS SELECT * FROM read_parquet('{history_dir}/*.parquet')")
    opened: set[int] = set()
    out = []
    for bmax in batch_maxes:
        flagged = {r[0] for r in con.execute(_FLAGGED_SQL.format(bmax=bmax)).fetchall()}
        new = flagged - opened
        opened |= new
        out.append(new)
    return out


def stored_incidents(incidents_dir: str) -> set[int]:
    if not os.path.isdir(incidents_dir):
        return set()
    return {r[0] for r in duckdb.sql(
        f"SELECT cluster_id FROM read_parquet('{incidents_dir}/*.parquet')").fetchall()}

