"""Correctness checks the benchmark runs outside its timed region."""

from __future__ import annotations

import math
import re
import time
from pathlib import Path

import duckdb

from .gen import TABLE_SCHEMAS


def duck(data: Path) -> "duckdb.DuckDBPyConnection":
    """An in-memory DuckDB with one view per generated table."""
    con = duckdb.connect()
    for t in TABLE_SCHEMAS:
        f = data / f"{t}.parquet"
        if f.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    return con


def query_mismatch(spark, con, data: Path, name: str) -> str | None:
    """None when registry query ``name`` passes the repo's oracle gate
    (``tools/check_oracle``: row count, column names and types, value
    multiset) against its DuckDB twin.  The gate prints its report on
    stdout."""
    from iot_simulator_datalake_spark.queries import REGISTRY
    from tools.check_oracle import _check_one

    failures: list[str] = []
    _check_one(spark, con, str(data), name, REGISTRY[name],
               time.monotonic(), failures)
    return "fails the oracle gate (report on stderr)" if failures else None


# -- medallion ---------------------------------------------------------------

_SILVER = """
SELECT device_id, location_id, CAST("timestamp" AS TIMESTAMP) AS ts,
       sensor_type, lower(trim(quality_flag)) AS quality_flag, unit, value
FROM read_json('{glob}', format = 'newline_delimited', columns = {{
  device_id: 'VARCHAR', location_id: 'VARCHAR', "timestamp": 'VARCHAR',
  sensor_type: 'VARCHAR', quality_flag: 'VARCHAR', unit: 'VARCHAR',
  value: 'DOUBLE'}})
WHERE lower(trim(quality_flag)) IN ('good', 'suspect')
"""

_FACT = """
SELECT location_id, sensor_type, quality_flag,
       CAST(year(ts) AS INTEGER) AS year, CAST(month(ts) AS INTEGER) AS month,
       CAST(SUM(CAST(value AS DECIMAL(25, 6))) AS DOUBLE) / COUNT(value)
         AS avg_value
FROM silver GROUP BY ALL
"""


def medallion_mismatch(engine, landing: Path) -> str | None:
    """Exactly-once silver and the final gold fact against DuckDB over
    every landed JSON file; None when both hold."""
    glob = str(landing / "*.json")
    if not re.fullmatch(r"[\w./*-]+", glob):
        raise ValueError(f"unexpected characters in landing path {glob!r}")
    con = duckdb.connect()
    con.execute("CREATE VIEW silver AS " + _SILVER.format(glob=glob))
    want_n = con.sql("SELECT count(*) FROM silver").fetchone()[0]
    got_n = engine.table("silver.iot_events").count()
    if got_n != want_n:
        return (f"silver rows {got_n} != landed rows passing the filter "
                f"{want_n}")
    want = {r[:5]: r[5] for r in con.sql(_FACT).fetchall()}
    got = {tuple(r[:5]): r[5] for r in engine.table("gold.fact_iot_events")
           .select("location_id", "sensor_type", "quality_flag", "year",
                   "month", "avg_value").collect()}
    if got.keys() != want.keys():
        return f"gold fact keys differ: {len(got)} vs {len(want)} groups"
    bad = [k for k in want if not math.isclose(got[k], want[k],
                                               rel_tol=1e-12)]
    if bad:
        return f"gold fact avg_value differs on {len(bad)} groups, e.g. " \
               f"{bad[0]}: {got[bad[0]]} != {want[bad[0]]}"
    return None
