"""Order-insensitive result checksums shared by the benchmark and the tool
that records expected values from the DuckDB oracle.

A result is compared the way tools/oracle_check.py compares it: columns
sorted by name, row order ignored. Numbers of any type compare by value,
rounded to 9 significant digits (the oracle gate's 1e-9 relative tolerance);
timestamps compare as naive UTC.
"""
import datetime
import decimal
import hashlib
import math


def canon(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return "0" if f == 0 else "%.9g" % f
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def summary(table):
    """{"columns", "rows", "checksum"} of a pyarrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    total = 0
    rows = 0
    for row in zip(*data):
        digest = hashlib.blake2b("\x1f".join(canon(x) for x in row).encode(),
                                 digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) % (1 << 64)
        rows += 1
    return {"columns": cols, "rows": rows, "checksum": "%016x" % total}


def read_result(path):
    """The parquet directory Spark wrote, as one pyarrow table."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet parts under {path}")
    return pa.concat_tables([pq.read_table(f) for f in files])
