"""Output checks, run outside every timed region.

- ``typed_digest``: row count plus an order-insensitive, type-sensitive
  digest of an Arrow result.  Every cell carries its column's type tag
  (``i32``/``i64``, ``f64``, ``d(p,s)``, ``s``, ``t``, ...), so a Spark
  BIGINT and a DuckDB HUGEINT with equal values do not match, nor do a
  DECIMAL(38,2) and a DOUBLE.  DATE and midnight TIMESTAMP render alike
  only when both sides agree on the kind: the tag keeps them apart.
  Results are compared against each registry row's DuckDB oracle.
- ``check_etl_day``: the SCD2 and fact invariants of one
  ``run_daily_etl`` day, read back with DuckDB.
- ``check_stream``: the streaming pipeline's three sinks against a batch
  twin computed by DuckDB over the same chunk files.

Each check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.types as pt

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def _tag(t: pa.DataType) -> str:
    if pt.is_integer(t):
        return f"i{t.bit_width}"
    if pt.is_floating(t):
        return f"f{t.bit_width}"
    if pt.is_decimal(t):
        return f"d({t.precision},{t.scale})"
    if pt.is_string(t) or pt.is_large_string(t):
        return "s"
    if pt.is_timestamp(t):
        return "t"
    if pt.is_date(t):
        return "date"
    if pt.is_boolean(t):
        return "b"
    if pt.is_list(t) or pt.is_large_list(t):
        return f"l<{_tag(t.value_type)}>"
    return str(t)


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return repr(v + 0.0)  # -0.0 and 0.0 compare equal in both engines
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, decimal.Decimal):
        return str(v)
    return str(v).replace("\\", "\\\\").replace("|", "\\p").replace("\n", "\\n")


def typed_digest(table: pa.Table) -> tuple[int, str]:
    """(rows, sha256) of ``table``, independent of row and column order."""
    names = sorted(table.column_names)
    cols = [table.column(n) for n in names]
    header = ",".join(f"{n}:{_tag(c.type)}" for n, c in zip(names, cols))
    values = [c.to_pylist() for c in cols]
    rows = sorted("|".join(_cell(v) for v in row) for row in zip(*values))
    h = hashlib.sha256(header.encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return table.num_rows, h.hexdigest()


def oracle_digests(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Run each oracle SQL in DuckDB over ``data_dir``'s tables."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {name: typed_digest(con.execute(sql).arrow()) for name, sql in oracles.items()}
    finally:
        con.close()


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return con.execute(sql).fetchall()


def check_etl_day(warehouse: str, facts: dict, closed_total: int) -> list[str]:
    """Invariants after one ``run_daily_etl`` day:

    - exactly one current row per customer key, and every key has one;
    - every closed row chains to its key's next version;
    - closed rows equal the keys churned so far (``closed_total``);
    - total rows equal keys plus closed rows;
    - the day's fact slice holds exactly the day's extracted orders;
    - the run's audit row reports success with the same order count."""
    con = duckdb.connect()
    problems: list[str] = []
    try:
        dim = f"read_parquet('{warehouse}/dim_customer/**/*.parquet')"
        dup, missing = _rows(con, f"""
            SELECT count(*) FILTER (WHERE nc > 1), count(*) FILTER (WHERE nc = 0)
            FROM (SELECT c_custkey, sum(is_current::INT) AS nc FROM {dim} GROUP BY 1)""")[0]
        if dup or missing:
            problems.append(f"dim_customer: {dup} keys with >1 current row, {missing} with none")
        broken = _rows(con, f"""
            SELECT count(*) FROM {dim} a WHERE NOT a.is_current AND NOT EXISTS (
              SELECT 1 FROM {dim} b WHERE b.c_custkey = a.c_custkey
              AND b.valid_from = a.valid_to)""")[0][0]
        if broken:
            problems.append(f"dim_customer: {broken} closed rows without a successor")
        total, closed, keys = _rows(con, f"""
            SELECT count(*), count(*) FILTER (WHERE NOT is_current),
                   count(DISTINCT c_custkey) FROM {dim}""")[0]
        if closed != closed_total:
            problems.append(f"dim_customer: {closed} closed rows, want {closed_total}")
        if keys != facts["n_keys"] or total != keys + closed:
            problems.append(
                f"dim_customer: {total} rows over {keys} keys, want {facts['n_keys']} keys"
            )
        fact = f"read_parquet('{warehouse}/fact_orders/**/*.parquet', hive_partitioning=true)"
        lo, hi = facts["order_keys"]
        n, kmin, kmax, distinct = _rows(con, f"""
            SELECT count(*), min(o_orderkey), max(o_orderkey), count(DISTINCT o_orderkey)
            FROM {fact} WHERE ingest_date = DATE '{facts['run_date']}'""")[0]
        if (n, kmin, kmax, distinct) != (facts["orders"], lo, hi, facts["orders"]):
            problems.append(
                f"fact_orders {facts['run_date']}: {n} rows keys {kmin}..{kmax}, "
                f"want {facts['orders']} rows keys {lo}..{hi}"
            )
        logs = f"read_json_auto('{warehouse}/load_logs/*.json')"
        status = _rows(con, f"""
            SELECT status, detail FROM {logs} WHERE run_date = '{facts['run_date']}'""")
        if len(status) != 1 or status[0][0] != "success":
            problems.append(f"load_logs {facts['run_date']}: {status}")
        elif f"'fact_orders': {facts['orders']}" not in status[0][1]:
            problems.append(f"load_logs {facts['run_date']}: {status[0][1]}")
    finally:
        con.close()
    return problems


def check_stream(
    warehouse: str, src_dir: str, threshold: float, watermark_iso: str | None
) -> list[str]:
    """The streaming sinks against DuckDB's batch twin over ``src_dir``:

    - ``latest_status``: per user the row of its highest event id, every
      column equal;
    - ``alerts``: the set of alert ids equals the events above threshold;
    - ``hourly_counts``: every emitted (window, type) count equals the
      twin's, and the emitted windows are exactly those closed by the
      final watermark (window end at or before it)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")  # the chunks carry UTC instants
    problems: list[str] = []
    try:
        src = f"read_parquet('{src_dir}/*.parquet')"
        twin = f"""SELECT user_id, max(event_id) AS event_id FROM {src} GROUP BY 1"""
        got = f"read_parquet('{warehouse}/latest_status/*.parquet')"
        n_users, n_got, diff = _rows(con, f"""
            WITH t AS (SELECT DISTINCT s.* FROM {src} s JOIN ({twin}) m USING (user_id, event_id))
            SELECT (SELECT count(*) FROM t), (SELECT count(*) FROM {got}),
                   (SELECT count(*) FROM (
                     (SELECT event_id, ts, user_id, event_type, value, props FROM t
                      EXCEPT SELECT event_id, ts, user_id, event_type, value, props FROM {got})
                     UNION ALL
                     (SELECT event_id, ts, user_id, event_type, value, props FROM {got}
                      EXCEPT SELECT event_id, ts, user_id, event_type, value, props FROM t)))""")[0]
        if diff or n_got != n_users:
            problems.append(f"latest_status: {n_got} rows, want {n_users}; {diff} rows differ")
        alerts = f"read_parquet('{warehouse}/alerts/*.parquet')"
        want, got_n, got_distinct, diff = _rows(con, f"""
            SELECT (SELECT count(DISTINCT event_id) FROM {src} WHERE value > {threshold}),
                   (SELECT count(*) FROM {alerts}),
                   (SELECT count(DISTINCT alert_id) FROM {alerts}),
                   (SELECT count(*) FROM (
                     SELECT DISTINCT event_id FROM {src} WHERE value > {threshold}
                     EXCEPT SELECT alert_id FROM {alerts}))""")[0]
        # the source redelivers 2 % of events and alerts are stateless, so
        # each redelivered alert lands twice: compare distinct ids
        if got_distinct != want or diff:
            problems.append(f"alerts: {got_distinct} distinct ids ({got_n} rows), want {want}")
        counts = f"read_parquet('{warehouse}/hourly_counts/*.parquet')"
        if watermark_iso is None:
            problems.append("hourly_counts: no watermark reported")
        else:
            wm = watermark_iso.replace("T", " ").rstrip("Z")
            closed = f"""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
                           count(*) AS n_events FROM {src} GROUP BY 1, 2
                         HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
                                <= TIMESTAMP '{wm}'"""
            n_want, n_emitted, diff = _rows(con, f"""
                SELECT (SELECT count(*) FROM ({closed})), (SELECT count(*) FROM {counts}),
                       (SELECT count(*) FROM (
                         (SELECT window_start, event_type, n_events FROM ({closed})
                          EXCEPT ALL SELECT window_start, event_type, n_events FROM {counts})
                         UNION ALL
                         (SELECT window_start, event_type, n_events FROM {counts}
                          EXCEPT ALL SELECT window_start, event_type, n_events FROM ({closed}))))
                """)[0]
            if diff or n_emitted != n_want:
                problems.append(
                    f"hourly_counts: {n_emitted} rows emitted, want {n_want}; {diff} differ"
                )
    finally:
        con.close()
    return problems


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (0, 0 if absent)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
