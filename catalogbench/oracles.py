"""DuckDB oracle results for the catalog benchmark.

Runs each query's oracle SQL (`SparkEntry.oracleSql`, dumped by
`catalogbench.Describe`) over one input directory, the way
`dev/check_oracles.py` does, and writes `<input>/oracle/<query>.json`,
one value list per column:

    {"columns": [...], "types": [...], "data": [[...], ...]}

Types: "n" exact number (decimals as text), "f" float (NaN and
Infinity as JSON extension tokens), "b" bool, "s" text, "t" timestamp
(micros since epoch, UTC), "d" date (days since epoch), "x" bytes (hex),
"j" anything else, one tagged cell per value:

    null, true/false, "text", [list], {"n": "12.50"}, {"f": 0.25},
    {"x": "00ff"}, {"t": micros}, {"d": days}, {"s": [[name, cell], ...]},
    {"o": "text"}

Sorting and comparison happen in the JVM that timed the outputs
(`catalogbench.Check`).
"""
import datetime
import decimal
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def encode(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return {"n": str(v)}
    if isinstance(v, decimal.Decimal):
        return {"n": format(v, "f")}
    if isinstance(v, float):
        if math.isnan(v):
            return {"f": "NaN"}
        if math.isinf(v):
            return {"f": "Infinity" if v > 0 else "-Infinity"}
        return {"f": v}
    if isinstance(v, (bytes, bytearray, memoryview)):
        return {"x": bytes(v).hex()}
    if isinstance(v, datetime.datetime):
        d = v - (EPOCH_TZ if v.tzinfo else EPOCH)
        return {"t": (d.days * 86400 + d.seconds) * 1000000 + d.microseconds}
    if isinstance(v, datetime.date):
        return {"d": (v - EPOCH.date()).days}
    if isinstance(v, (list, tuple)):
        return [encode(x) for x in v]
    if isinstance(v, dict):
        return {"s": [[str(k), encode(x)] for k, x in v.items()]}
    return {"o": str(v)}


def column(col):
    """(type, values) of one Arrow column."""
    t = col.type
    if pa.types.is_integer(t):
        return "n", col.to_pylist()
    if pa.types.is_decimal(t):
        return "n", pc.cast(col, pa.string()).to_pylist()
    if pa.types.is_floating(t):
        return "f", pc.cast(col, pa.float64()).to_pylist()
    if pa.types.is_boolean(t):
        return "b", col.to_pylist()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "s", col.to_pylist()
    if pa.types.is_timestamp(t):
        us = pc.cast(col, pa.timestamp("us", tz=t.tz))
        return "t", pc.cast(us, pa.int64()).to_pylist()
    if pa.types.is_date32(t):
        return "d", pc.cast(col, pa.int32()).to_pylist()
    return "j", [encode(v) for v in col.to_pylist()]


def run(input_dir, sql_by_query):
    """Writes one oracle file per query, then the marker `done`; returns
    {query: error} for the queries whose oracle failed."""
    out = f"{input_dir}/oracle"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{out}/spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    errors = {}
    for name, sql in sql_by_query.items():
        path = f"{out}/{name}.json"
        if os.path.exists(path):
            continue
        try:
            tbl = con.execute(sql).arrow()
            typed = [column(c) for c in tbl.columns]
        except Exception as e:  # reported as a failed query, not raised
            errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        with open(path + ".tmp", "w") as f:
            json.dump({"columns": tbl.column_names,
                       "types": [t for t, _ in typed],
                       "data": [v for _, v in typed]}, f)
        os.replace(path + ".tmp", path)
    con.close()
    open(f"{out}/done", "w").close()
    return errors
