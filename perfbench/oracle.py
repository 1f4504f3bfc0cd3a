"""DuckDB ground truth for SparkEntry entries.

The oracle side runs an entry's `oracleSql` in DuckDB over the
generated parquet tables; the Spark side reads the entry's result
parquet with pyarrow. Both are reduced to the same digest: column
names, row count and an order-insensitive sum of per-row sha256
values over cells stringified the same way (floats by repr,
timestamps as naive UTC). Two independent readers keep a
representation mismatch visible instead of shared.
"""
import datetime
import glob
import hashlib
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MOD = 1 << 256


def _cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return str(v.astimezone(datetime.timezone.utc).replace(tzinfo=None))
    return str(v)


def _digest(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    acc = n = 0
    for r in rows:
        line = "\x01".join(_cell(r[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.sha256(line.encode()).digest(), "big")) % MOD
        n += 1
    return {"cols": sorted(cols), "rows": n, "hash": f"{acc:064x}"}


def duck_digests(data_dir, sqls):
    """{name: digest} for every oracle SQL over the tables in data_dir."""
    con = duckdb.connect()
    # spills, if any, stay inside the run's work directory
    con.execute(f"SET temp_directory='{os.path.join(os.path.dirname(data_dir), 'duckdb_tmp')}'")
    con.execute("SET enable_progress_bar=false")
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in sorted(sqls.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]

        def rows():
            while True:
                batch = cur.fetchmany(65536)
                if not batch:
                    return
                yield from batch
        out[name] = _digest(rows(), cols)
    con.close()
    return out


def spark_digest(result_dir):
    """Digest of a Spark-written parquet result directory."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return None
    cols = pq.ParquetFile(files[0]).schema_arrow.names

    def rows():
        for f in files:
            for batch in pq.ParquetFile(f).iter_batches(batch_size=65536):
                for r in batch.to_pylist():
                    yield tuple(r[c] for c in cols)
    return _digest(rows(), cols)


if __name__ == "__main__":
    # python3 oracle.py <data dir> <sql json> <out json>: digests written
    # atomically, so a reader that sees <out json> sees all of them
    import json
    import sys
    try:
        with open(sys.argv[2]) as f:
            digests = duck_digests(sys.argv[1], json.load(f))
    except Exception as e:  # the waiting harness must still see an answer
        digests = {"__error__": repr(e)}
    with open(sys.argv[3] + ".tmp", "w") as f:
        json.dump(digests, f)
    os.replace(sys.argv[3] + ".tmp", sys.argv[3])
