"""Checks a registry query's collected rows against its DuckDB oracle SQL
(`SparkEntry.oracleSql`), the way tools/check_oracle.py does: columns
sorted by name, values compared exactly. The Spark rows arrive as JSON
from the driver; values are compared after mapping both sides to the
same Python form by the Spark column type."""
import datetime
import decimal

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def connect(data):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def _norm(v, typ, side):
    """One value in comparable form; `side` is 'spark' or 'duckdb'."""
    if v is None:
        return None
    if typ.startswith("array<"):
        inner = typ[len("array<"):-1]
        return [_norm(x, inner, side) for x in v]
    if typ.startswith("timestamp"):
        if side == "spark":
            return int(v)
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            d = v - EPOCH
            return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
        return v
    if typ == "date":
        return v if side == "spark" else v.isoformat()
    if typ == "float":
        return float(np.float32(v))
    if typ == "double":
        return float(v)
    if typ.startswith("decimal"):
        return decimal.Decimal(str(v))
    if typ in ("bigint", "int", "smallint", "tinyint"):
        return int(v)
    return v


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (a != a and b != b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def check(con, rec):
    """None when the record's rows equal the oracle's, else a reason."""
    schema = rec["schema"]
    try:
        cur = con.execute(rec["oracle_sql"])
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {e}"
    names = [d[0] for d in cur.description]
    want = cur.fetchall()
    got_names = [n for n, _ in schema]
    if sorted(got_names) != sorted(names):
        return f"columns {sorted(got_names)} vs {sorted(names)}"
    if len(want) != len(rec["rows"]):
        return f"rows {len(rec['rows'])} vs {len(want)}"
    types = dict(schema)
    order = sorted(got_names)
    gi = [got_names.index(n) for n in order]
    wi = [names.index(n) for n in order]
    for r, (g, w) in enumerate(zip(rec["rows"], want)):
        for n, i, j in zip(order, gi, wi):
            a = _norm(g[i], types[n], "spark")
            b = _norm(w[j], types[n], "duckdb")
            if not _same(a, b):
                return f"col {n} row {r}: spark={a!r} oracle={b!r}"
    return None

