"""Output checks: the order-insensitive result fingerprint, the DuckDB
oracle references, and the event-stream sink check.

The fingerprint must agree byte for byte with `Canon.scala`, which computes
it over the rows a timed operation collected. A row is rendered as one
token per column, columns in name order; its MD5's first 8 bytes are summed
modulo 2^64 over all rows. Numbers compare by value as the repository's
oracle check does (an integral double equals the same long), other doubles
by their IEEE-754 bits.
"""
import datetime
import decimal
import hashlib
import math
import os
import struct

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MASK64 = (1 << 64) - 1
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DATE = datetime.date(1970, 1, 1)


def _double(v):
    if math.isnan(v):
        return b"nan"
    if math.isinf(v):
        return b"inf" if v > 0 else b"-inf"
    if v == math.floor(v) and abs(v) < 9.2e18:
        return b"i%d" % int(v)
    return b"d%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]


def token(v):
    """Canonical bytes of one value (see Canon.token)."""
    if v is None:
        return b"N"
    if isinstance(v, bool):
        return b"b1" if v else b"b0"
    if isinstance(v, int):
        return b"i%d" % v
    if isinstance(v, float):
        return _double(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return b"i%d" % int(v)
        return _double(float(v))
    if isinstance(v, str):
        b = v.encode("utf-8")
        return b"s%d:" % len(b) + b
    if isinstance(v, (bytes, bytearray)):
        return b"x" + bytes(v).hex().encode()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return b"t%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return b"D%d" % (v - _EPOCH_DATE).days
    if isinstance(v, (list, tuple)):
        return b"a%d[" % len(v) + b",".join(token(x) for x in v) + b"]"
    if isinstance(v, dict):
        return b"r%d(" % len(v) + b",".join(token(x) for x in v.values()) + b")"
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def row_hash(row_bytes):
    return int.from_bytes(hashlib.md5(row_bytes).digest()[:8], "big")


def fingerprint(columns, rows):
    """`cols|count|sum` over rows given in `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + row_hash(b"|".join(token(r[i]) for i in order))) & MASK64
    names = ",".join(columns[i] for i in order)
    return f"{names}|{len(rows)}|{total:016x}"


def connect(data_dir, threads=1):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        if not os.path.exists(f"{data_dir}/{t}.parquet"):
            continue  # a workload's fixtures hold only the tables it reads
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def references(data_dir, oracles, threads=1):
    """Fingerprint of every oracle query's DuckDB result over `data_dir`."""
    con = connect(data_dir, threads)
    out = {}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = fingerprint(cols, cur.fetchall())
    con.close()
    return out


def stream_expected(events, oracle_sql):
    """Expected sink rows of the running aggregate: the registry's q95
    oracle over the events the generator wrote, beyond-watermark events
    excluded. `events` rows are (event_id, ts_us, user_id, event_type,
    value); returns {event_id: (key, event_id, ts_us, running_n,
    running_sum_millis)}."""
    cols = list(zip(*events)) if events else [[]] * 5
    raw = pa.table({
        "event_id": pa.array(cols[0], pa.int64()), "ts_us": pa.array(cols[1], pa.int64()),
        "user_id": pa.array(cols[2], pa.int64()), "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64())})
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.register("raw", raw)
    con.execute("CREATE VIEW events AS SELECT event_id, make_timestamp(ts_us) AS ts, "
                "user_id, event_type, value FROM raw")
    cur = con.execute(oracle_sql)
    cols = [d[0] for d in cur.description]
    idx = [cols.index(c) for c in
           ("key", "event_id", "ts_us", "running_n", "running_sum_millis")]
    out = {}
    for r in cur.fetchall():
        row = tuple(int(r[i]) for i in idx)
        out[row[1]] = row
    con.close()
    return out


def compare_stream(expected, got):
    """(expected rows, mismatched or missing rows): a sink row counts as
    wrong if it differs from the expected row of its event or has none."""
    seen = {}
    bad = 0
    for row in got:
        if row[1] in seen or expected.get(row[1]) != row:
            bad += 1
        seen[row[1]] = row
    missing = sum(1 for eid in expected if eid not in seen)
    return len(expected), bad + missing
