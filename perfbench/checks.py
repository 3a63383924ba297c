"""Output checks, computed with DuckDB independently of the program.

Ingest tables are compared against the generator's Singer files: both
sides are projected to the same typed columns (date-times as UTC
epoch microseconds, dates, nested structs and arrays as text) and
reduced to ``(row count, sum of row hashes)``, which is insensitive to
row order. Query results are compared against the registry's DuckDB
``oracle_sql()`` after the same canonicalisation the engine's own
oracle tests use: sorted columns, sorted rows, every cell as text.
"""

from __future__ import annotations

import json
import math
import os
from typing import Any

import duckdb
import numpy as np
import pandas as pd

def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _duck_type(prop: dict[str, Any]) -> str:
    types = prop.get("type", "string")
    t = [x for x in ([types] if isinstance(types, str) else types) if x != "null"][0]
    if t == "integer":
        return "BIGINT"
    if t == "number":
        return "DOUBLE"
    if t == "boolean":
        return "BOOLEAN"
    if t == "array":
        return _duck_type(prop["items"]) + "[]"
    if t == "object":
        inner = ", ".join(f"{k} {_duck_type(v)}" for k, v in prop["properties"].items())
        return f"STRUCT({inner})"
    return "VARCHAR"


def _canon(name: str, prop: dict[str, Any]) -> str:
    """One column as a comparable value: date-times -> epoch µs in UTC,
    dates -> DATE, structs and lists -> their text form."""
    fmt = prop.get("format")
    if fmt == "date-time":
        return f"epoch_us(CAST({name} AS TIMESTAMPTZ))"
    if fmt == "date":
        return f"CAST({name} AS DATE)"
    return f"CAST(CAST({name} AS {_duck_type(prop)}) AS VARCHAR)"


def _row_hash(schema: dict[str, Any], extra: tuple[str, ...] = ()) -> str:
    cols = [_canon(k, v) for k, v in schema["properties"].items()] + list(extra)
    return f"hash({', '.join(cols)})"


def expected_from_singer(
    con: duckdb.DuckDBPyConnection, files: list[str], stream: str | None,
    schema: dict[str, Any], last_per_key: str | None = None, extra: tuple[str, ...] = (),
) -> tuple[int, int]:
    """(rows, hash sum) of the RECORDs of ``stream`` in Singer ``files``,
    fed in that order (a file may repeat). ``stream=None``: the files
    hold bare records (a BATCH file). ``last_per_key``: keep only the
    last record per key, the upsert contract. ``extra``: more hashed
    expressions, matched one for one with ``actual_from_table``'s."""
    struct = json.dumps({k: _json_type(v) for k, v in schema["properties"].items()})
    if stream is None:
        parts = [f"SELECT {i} AS _feed, json_transform(json, '{struct}') AS r "
                 f"FROM read_ndjson_objects('{f}')" for i, f in enumerate(files)]
    else:
        parts = [
            f"SELECT {i} AS _feed, json_transform(record, '{struct}') AS r "
            f"FROM read_json('{f}', format='newline_delimited', "
            f"columns={{type: 'VARCHAR', stream: 'VARCHAR', record: 'JSON'}}) "
            f"WHERE type = 'RECORD' AND stream = '{stream}'"
            for i, f in enumerate(files)
        ]
    rows = f"SELECT _feed, unnest(r) FROM ({' UNION ALL '.join(parts)})"
    if last_per_key:
        rows = (f"SELECT * FROM ({rows}) QUALIFY row_number() OVER (PARTITION BY {last_per_key} "
                f"ORDER BY _feed DESC, seq DESC) = 1")
    return _count_hash(con, rows, _row_hash(schema, extra))


def _json_type(prop: dict[str, Any]) -> Any:
    """json_transform structure for one property (temporal types stay
    text here and are cast by ``_canon``)."""
    if prop.get("format") in ("date-time", "date"):
        return "VARCHAR"
    types = prop.get("type", "string")
    t = [x for x in ([types] if isinstance(types, str) else types) if x != "null"][0]
    if t == "array":
        return [_json_type(prop["items"])]
    if t == "object":
        return {k: _json_type(v) for k, v in prop["properties"].items()}
    return {"integer": "BIGINT", "number": "DOUBLE", "boolean": "BOOLEAN"}.get(t, "VARCHAR")


def table_glob(table_dir: str) -> str:
    return os.path.join(table_dir, "**", "*.parquet")


def actual_from_table(
    con: duckdb.DuckDBPyConnection, table_dir: str, schema: dict[str, Any],
    extra: tuple[str, ...] = (),
) -> tuple[int, int]:
    rows = f"SELECT * FROM read_parquet('{table_glob(table_dir)}', union_by_name=true)"
    return _count_hash(con, rows, _row_hash(schema, extra))


def _count_hash(con: duckdb.DuckDBPyConnection, rows: str, h: str) -> tuple[int, int]:
    n, s = con.execute(f"SELECT count(*), coalesce(sum({h}::HUGEINT), 0) FROM ({rows})").fetchone()
    return int(n), int(s)


def table_count_seq(
    con: duckdb.DuckDBPyConnection, table_dir: str, where: str = "TRUE"
) -> tuple[int, int]:
    """(rows, sum of seq) of a table, optionally filtered."""
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(seq), 0) FROM read_parquet("
        f"'{table_glob(table_dir)}', union_by_name=true) WHERE {where}"
    ).fetchone()
    return int(n), int(s)


def parquet_bytes(table_dir: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under a table."""
    total = files = 0
    for root, _, names in os.walk(table_dir):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


# -- query results ---------------------------------------------------------

def _cell(v: Any) -> str:
    if v is None or v is pd.NaT:
        return "\\N"
    if isinstance(v, (float, np.floating)):
        return "\\N" if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    try:
        if pd.isna(v):
            return "\\N"
    except (TypeError, ValueError):
        pass
    if hasattr(v, "isoformat"):
        iso = v.isoformat()
        return iso if "T" in iso else iso + "T00:00:00"
    return str(v)


def canonical(frame: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Sorted column names and the sorted rows of cells as text."""
    frame = frame.reindex(sorted(frame.columns), axis=1)
    rows = sorted(tuple(_cell(v) for v in row) for row in frame.itertuples(index=False, name=None))
    return tuple(frame.columns), rows


def oracle_result(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    return canonical(con.sql(sql).df())


def register_fixture(con: duckdb.DuckDBPyConnection, fixture_dir: str) -> None:
    for f in sorted(os.listdir(fixture_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(fixture_dir, f)}')")
