"""DuckDB oracle check for the curation workload.

The benchmark JVM writes `results.json`: for each query its column names,
its rows as typed cells, and its oracle SQL (`SparkEntry.oracleSql`). This
module runs each oracle over the same seeded parquet tables in DuckDB and
compares exactly with `scripts/oracle_check_strict.py`'s `normalize`:
floats bit for bit, decimals by value, rows as a multiset, columns by name.
"""
import datetime
import decimal
import json
import os
import struct
import sys

# The comparison itself is the strict oracle check's, so the two cannot drift.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from oracle_check_strict import TABLES, normalize  # noqa: E402


def decode(c):
    """A typed cell of results.json back to the Python value DuckDB gives."""
    if isinstance(c, dict):
        if "i" in c:
            return int(c["i"])
        if "f" in c:
            return struct.unpack(">d", int(c["f"], 16).to_bytes(8, "big"))[0]
        if "d" in c:
            return decimal.Decimal(c["d"])
        if "t" in c:
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=c["t"])
        if "l" in c:
            return [decode(x) for x in c["l"]]
    return c


def check(results_path, data_dir, tmp_dir):
    """Returns (attempted, failed, messages) over every query in the file."""
    import duckdb
    with open(results_path) as f:
        results = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}/*.parquet')")
    failed, msgs = 0, []
    for q in results:
        name = q["query"]
        spark = normalize([[decode(c) for c in r] for r in q["rows"]], q["columns"])
        try:
            res = con.execute(q["oracle_sql"])
            duck = normalize(res.fetchall(), [d[0] for d in res.description])
        except Exception as e:  # an oracle that cannot run is a failed check
            failed += 1
            msgs.append(f"{name}: oracle SQL error: {e}")
            continue
        if spark != duck:
            failed += 1
            first = next((i for i in range(1, min(len(spark), len(duck)))
                          if spark[i] != duck[i]), None)
            msgs.append(f"{name}: spark {len(spark) - 1} rows {spark[0]} vs oracle "
                        f"{len(duck) - 1} rows {duck[0]}"
                        + (f"; first difference spark={spark[first]} oracle={duck[first]}"
                           if first else ""))
    return len(results), failed, msgs
