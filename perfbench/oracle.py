"""Oracle check of the benchmark's results.

Runs each query's `SparkEntry.oracleSql` in DuckDB over the same parquet
tables and compares it with the Spark result the harness dumped: column
names, row count, and a row-order-insensitive hash of the values with
columns sorted by name. The hash (`table_hash`, with its `canon`) is
imported from the project's correctness gate, tools/verify_local.py, and
the gate's type audit applies too: an oracle that emits a HUGEINT column
fails here as it fails there.

The oracle side depends only on the SQL text and the input files, so its
summary (columns, rows, hash, HUGEINT columns) is cached in the build
directory, keyed by both.
"""
import hashlib
import json
import sys
from pathlib import Path

import duckdb

_TOOLS = Path(__file__).resolve().parent.parent / "tools"
if not (_TOOLS / "verify_local.py").is_file():
    raise SystemExit("tools/verify_local.py not found: the project is not in this tree")
sys.path.insert(0, str(_TOOLS))
from verify_local import TABLES, table_hash  # noqa: E402


def _summary(rel):
    cols = [c.lower() for c in rel.columns]
    hugeint = sorted(c for c, t in zip(cols, rel.types) if "HUGEINT" in str(t).upper())
    rows = rel.fetchall()
    return {"cols": sorted(cols), "rows": len(rows), "hash": table_hash(rows, cols),
            "hugeint": hugeint}


def _data_key(sf):
    h = hashlib.sha256()
    for t in TABLES:
        st = (Path(sf) / f"{t}.parquet").stat()
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def check(sf, run_dir, queries, cache_file):
    """Returns {query: problem} for every query that fails the check."""
    run_dir = Path(run_dir)
    oracle_sql = json.loads((run_dir / "oracle_sql.json").read_text())
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    data_key = _data_key(sf)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    problems = {}
    for q in queries:
        sql = oracle_sql.get(q)
        if sql is None:
            problems[q] = "no oracle SQL"
            continue
        try:
            got = _summary(con.sql(f"SELECT * FROM '{run_dir}/verify/{q}/*.parquet'"))
            key = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()
            if key not in cache:
                cache[key] = _summary(con.sql(sql))
            want = cache[key]
        except Exception as e:  # a result or oracle that cannot be read is a failure
            problems[q] = f"{type(e).__name__}: {e}"
            continue
        if want["hugeint"]:
            problems[q] = f"oracle emits HUGEINT column(s) {want['hugeint']}"
        elif got["cols"] != want["cols"]:
            problems[q] = f"columns spark={got['cols']} oracle={want['cols']}"
        elif got["rows"] != want["rows"]:
            problems[q] = f"rows spark={got['rows']} oracle={want['rows']}"
        elif got["hash"] != want["hash"]:
            problems[q] = "hash mismatch"
    con.close()
    cache_file.write_text(json.dumps(cache))
    return problems
