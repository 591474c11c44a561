"""Expected results of the batch workload's queries, computed by DuckDB.

`Main prep` lists each query's oracle SQL in `<cache>/oracle/queries.json`.
For each entry this module runs the SQL in DuckDB over the data set's
parquet files (one view per file, named after it) and writes the result as
parquet to `<cache>/oracle/<query>-<sha>.parquet`, where `<sha>` is the
first 16 hex digits of the SQL's SHA-256. An existing file is reused, so
the oracle runs once per (query, oracle SQL). The benchmark JVM digests
these files the same way it digests the engine's output.
"""
import hashlib
import json
import os
from pathlib import Path

import duckdb


def sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode("utf-8")).hexdigest()[:16]


def compute(cache: Path, data: Path) -> None:
    out_dir = cache / "oracle"
    entries = json.loads((out_dir / "queries.json").read_text())
    con = duckdb.connect()
    for t in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    for e in entries:
        out = out_dir / f"{e['query']}-{sql_sha(e['sql'])}.parquet"
        if out.exists():
            continue
        tmp = out.with_suffix(".tmp")
        con.execute(f"COPY ({e['sql']}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, out)
