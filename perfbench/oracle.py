"""DuckDB answers for the benchmark's output checks.

`digest` mirrors `perfbench.Digest` in the harness: columns in name order,
each value rendered canonically, the row count plus the sum mod 2^64 of the
rows' SHA-256 prefixes. `expected` runs each oracle SQL once per data
directory and keeps the digests in a cache file beside the data.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
_CTX = decimal.Context(prec=80)
_Q = decimal.Decimal("0.000001")


def _dec(d):
    s = format(d.quantize(_Q, rounding=decimal.ROUND_HALF_EVEN, context=_CTX), "f")
    return "0.000000" if s == "-0.000000" else s


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return _dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(norm(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        line = "\x01".join(norm(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")
    return {"cols": ",".join(names[i] for i in order), "rows": len(rows),
            "digest": str(total % (1 << 64))}


def expected(data_dir, oracle_sql, cache_file):
    """Digest of each oracle SQL's answer over the tables in `data_dir`,
    or {"error": ...} when DuckDB cannot run it."""
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    keyed = {k: hashlib.sha256(sql.encode()).hexdigest() for k, sql in oracle_sql.items()}
    missing = [k for k, h in keyed.items() if h not in cache]
    if missing:
        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for k in missing:
            try:
                cur = con.execute(oracle_sql[k])
                names = [d[0] for d in cur.description]
                cache[keyed[k]] = digest(names, cur.fetchall())
            except Exception as e:  # reported as a failed check
                cache[keyed[k]] = {"error": f"{type(e).__name__}: {e}"}
        con.close()
        tmp = cache_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_file)
    return {k: cache[h] for k, h in keyed.items()}
