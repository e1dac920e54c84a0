#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the expected output of every measured
operation, from the DuckDB oracle.

    python3 perfbench/tools/expected.py

For each ops query, the oracle SQL (`graft.SparkEntry.oracleSql`) runs in
DuckDB over the benchmark's tables; its rows give the expected column names,
row count and order-independent digest (the encoding of graftbench.Digest).
For each scripted ask, the question's final SQL runs in DuckDB and its rows
are rendered the way `GraftSession` renders an answer.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def decimal_text(d):
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s in ("", "-0") else s


def encode(v):
    """Canonical bytes of one value; mirrors graftbench.Digest.encode."""
    if v is None:
        return b"N"
    if isinstance(v, bool):
        return b"B1" if v else b"B0"
    if isinstance(v, int):
        return b"I" + str(v).encode()
    if isinstance(v, float):
        return b"F" + struct.pack(">d", float("nan") if math.isnan(v) else v)
    if isinstance(v, decimal.Decimal):
        return b"D" + decimal_text(v).encode()
    if isinstance(v, str):
        return b"S" + v.encode("utf-8")
    if isinstance(v, (bytes, bytearray)):
        return b"X" + bytes(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return b"t" + str((v - EPOCH) // datetime.timedelta(microseconds=1)).encode()
    if isinstance(v, datetime.date):
        return b"d" + str((v - EPOCH.date()).days).encode()
    raise TypeError(f"no canonical encoding for {type(v)}")


def digest(table):
    """(sorted column names, row count, digest hex) of an Arrow table."""
    names = sorted(table.column_names)
    cols = [table.column(c).to_pylist() for c in names]
    total = 0
    for row in zip(*cols):
        h = hashlib.md5(b"".join(encode(v) + b"\x1f" for v in row)).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
    return names, table.num_rows, f"{total:016x}"


def render(table):
    """An answer's text, as GraftSession renders it."""
    rows = table.to_pylist()
    cols = table.column_names
    if len(rows) == 1 and len(cols) == 1:
        return str(rows[0][cols[0]])
    lines = ["\t".join(cols)] + ["\t".join(str(r[c]) for c in cols) for r in rows[:20]]
    return "\n".join(lines) + ("\n…" if len(rows) > 20 else "")


def oracle_sql(classpath):
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "oracle.json")
        subprocess.run(["java", "-cp", classpath, "graftbench.OracleDump", out],
                       check=True)
        with open(out) as f:
            return json.load(f)


def main():
    import duckdb
    oracle = oracle_sql(run.build())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(run.DATA, t + '.parquet')}')")
    ops = {}
    for wl in ("ops_light", "ops_heavy", "ops_write"):
        for q in workloads.OPS[wl]:
            if q not in oracle:
                sys.exit(f"{q} has no oracle SQL")
            names, rows, dig = digest(con.execute(oracle[q]).fetch_arrow_table())
            ops[q] = {"columns": names, "rows": rows, "digest": dig}
            print(q, rows, dig, flush=True)
    ask = {}
    for qid, q in sorted(workloads.ASK.items()):
        ask[qid] = render(con.execute(q.get("fix", q["first"])).fetch_arrow_table())
        print(qid, repr(ask[qid]))
    with open(run.EXPECTED, "w") as f:
        json.dump({"ops": ops, "ask": ask}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
