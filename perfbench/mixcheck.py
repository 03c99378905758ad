"""DuckDB oracle check of the operator_mix cold outputs.

The benchmark JVM digests each query's cold-pass output (columns in name
order, values in canonical text, see Digest.scala). This module runs the
query's registered oracle SQL in DuckDB over the same generated parquet
tables and computes the same order-independent digest.
"""
import datetime
import hashlib
import struct

TABLES = ["lineitem", "events", "documents", "embeddings"]  # as MixGen.scala writes
EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    """Canonical text of one value, matching Digest.canon on the JVM."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == 0.0:
            return "0"
        return format(int.from_bytes(struct.pack(">d", v), "big"), "x")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(rows):
    n, total = 0, 0
    for r in rows:
        n += 1
        total += int.from_bytes(hashlib.md5(r.encode("utf-8")).digest()[:8], "big")
    return f"{n}:{total % (1 << 64):x}"


def oracle_digest(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = ("\x1f".join(canon(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], digest(rows)


def check(data_dir, checks):
    """Returns one failure message per cold output that differs from its
    oracle, or that has no oracle to be checked against."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    failures = []
    for c in checks:
        name = c["query"]
        if not c.get("oracle"):
            failures.append(f"{name}: no oracle SQL")
            continue
        try:
            cols, dig = oracle_digest(con, c["oracle"])
        except Exception as e:  # an oracle that cannot run cannot vouch for the output
            failures.append(f"{name}: oracle failed: {str(e)[:200]}")
            continue
        if cols != c["columns"]:
            failures.append(f"{name}: columns spark={c['columns']} oracle={cols}")
        elif dig != c["digest"]:
            failures.append(f"{name}: digest spark={c['digest']} oracle={dig}")
    return failures
