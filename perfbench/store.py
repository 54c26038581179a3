"""store_cdc: the statement script (from the seed) and its DuckDB replay.

The script is written before the JVM starts. The driver runs it against
two GraftCatalog tables with the same partition spec, one copy-on-write
(`cow`) and one merge-on-read (`mor`). The replay applies, in DuckDB,
exactly the writes the driver reports as succeeded and recomputes every
read the driver made; a read whose rows differ is a wrong result.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("cow", "mor")
PROPS = {"cow": "", "mor": "TBLPROPERTIES ('write.mode' = 'merge-on-read')"}
ROUNDS = 40
INSERT_ROWS = 1000          # new keys per round
MERGE_OLD, MERGE_NEW = 250, 250
UPDATE_MOD, DELETE_MOD = 37, 101
# reads per table per round: point lookups and one-partition aggregates
# far outnumber the two full-table reads (full aggregate, VERSION AS OF),
# so p50 and p90 both fall inside dense runs of them (p50 among the cow
# and mor lookups, p90 among the slower mor ones), never on the edge to
# the sparse full-table reads. 52 reads a round, 104 in a two-round
# window: ten lie beyond p90.
POINT_READS, PART_READS = 18, 6
NEW_KEY_BASE = 10_000_000
COMPACT_TARGET = 64 * 1024 * 1024
COLS = "k, g, cust, cents, status"

# the table rows derived from `orders`; both engines evaluate this text
BASE_SELECT = ("SELECT o_orderkey AS k, CAST(substr(o_orderpriority, 1, 1) AS INT) AS g, "
               "o_custkey AS cust, CAST(round(o_totalprice * 100) AS BIGINT) AS cents, "
               "o_orderstatus AS status FROM {src}")

WRITE_OPS = ("insert", "merge", "update", "delete")
READ_OPS = ("point", "part", "full", "asof")


def _batch(rng, r, keys, g, status, n_customers):
    n = len(keys)
    return {"r": np.full(n, r, np.int32), "k": np.asarray(keys, np.int64),
            "g": np.asarray(g, np.int32),
            "cust": rng.integers(0, n_customers, n).astype(np.int64),
            "cents": rng.integers(100_000, 50_000_000, n).astype(np.int64),
            "status": [status] * n}


def _write_batches(path, parts):
    cols = {c: np.concatenate([p[c] for p in parts]) if c != "status"
            else sum((p[c] for p in parts), []) for c in parts[0]}
    table = pa.table({"r": pa.array(cols["r"], pa.int32()),
                      "k": pa.array(cols["k"], pa.int64()),
                      "g": pa.array(cols["g"], pa.int32()),
                      "cust": pa.array(cols["cust"], pa.int64()),
                      "cents": pa.array(cols["cents"], pa.int64()),
                      "status": cols["status"]})
    pq.write_table(table, path, row_group_size=INSERT_ROWS)


def write_script(work, data, seed):
    """Writes `<work>/store_script.json` and the batch files; every key,
    value and predicate comes from `seed`."""
    rng = np.random.default_rng(seed)
    orders = pq.read_table(os.path.join(data, "orders.parquet"),
                           columns=["o_orderkey", "o_orderpriority"])
    base_keys = orders["o_orderkey"].to_numpy()
    base_g = np.array([int(p[0]) for p in orders["o_orderpriority"].to_pylist()])
    n_customers = pq.read_metadata(os.path.join(data, "customer.parquet")).num_rows
    store = os.path.join(work, "batches")
    os.makedirs(store, exist_ok=True)
    next_key = NEW_KEY_BASE
    ins, ups, rounds = [], [], []
    for r in range(ROUNDS):
        keys = np.arange(next_key, next_key + INSERT_ROWS)
        next_key += INSERT_ROWS
        ins.append(_batch(rng, r, keys, rng.integers(1, 6, INSERT_ROWS), "N", n_customers))
        old = rng.choice(len(base_keys), MERGE_OLD, replace=False)
        new = np.arange(next_key, next_key + MERGE_NEW)
        next_key += MERGE_NEW
        ups.append(_batch(rng, r, np.concatenate([base_keys[old], new]),
                          np.concatenate([base_g[old], rng.integers(1, 6, MERGE_NEW)]),
                          "M", n_customers))
        params = {
            "insert": {"r": r}, "merge": {"r": r},
            "update": {"rem": int(rng.integers(UPDATE_MOD)), "delta": int(rng.integers(1, 1000))},
            "delete": {"rem": int(rng.integers(DELETE_MOD))}}
        reads = ([("point", {"key": int(k)}) for k in rng.integers(len(base_keys), size=POINT_READS)]
                 + [("part", {"g": int(g)}) for g in rng.integers(1, 6, size=PART_READS)]
                 + [("full", {}), ("asof", {})])
        stmts = [_stmt(op, t, params[op]) for op in WRITE_OPS for t in TABLES]
        stmts += [_stmt(op, t, p) for i in rng.permutation(len(reads))
                  for op, p in [reads[i]] for t in TABLES]
        # every round ends with maintenance, so each round (one pass) has
        # the same statement mix whatever the window's length
        stmts += [_stmt("compact", t, {}) for t in TABLES]
        stmts += [_stmt("purge", "mor", {})]
        stmts += [_stmt("expire", t, {}) for t in TABLES]
        rounds.append(stmts)
    _write_batches(os.path.join(store, "ins.parquet"), ins)
    _write_batches(os.path.join(store, "ups.parquet"), ups)
    orders_path = os.path.join(data, "orders.parquet")
    setup = [f"CREATE OR REPLACE TEMPORARY VIEW ins USING parquet OPTIONS (path '{store}/ins.parquet')",
             f"CREATE OR REPLACE TEMPORARY VIEW ups USING parquet OPTIONS (path '{store}/ups.parquet')"]
    setup += [f"CREATE TABLE cat.{t} PARTITIONED BY (g) {PROPS[t]} AS "
              + BASE_SELECT.format(src=f"parquet.`{orders_path}`") for t in TABLES]
    script = {"tables": list(TABLES), "setup": setup, "rounds": rounds}
    with open(os.path.join(work, "store_script.json"), "w") as f:
        json.dump(script, f)
    return script


def _stmt(op, t, p):
    """One statement: its Spark SQL and the parameters the replay needs."""
    sql = {
        "insert": f"INSERT INTO cat.{t} SELECT {COLS} FROM ins WHERE r = {p.get('r')}",
        "merge": (f"MERGE INTO cat.{t} AS t USING (SELECT {COLS} FROM ups WHERE r = {p.get('r')}) AS s "
                  "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
        "update": (f"UPDATE cat.{t} SET cents = cents + {p.get('delta')}, status = 'U' "
                   f"WHERE k % {UPDATE_MOD} = {p.get('rem')}"),
        "delete": f"DELETE FROM cat.{t} WHERE k % {DELETE_MOD} = {p.get('rem')}",
        "point": f"SELECT {COLS} FROM cat.{t} WHERE k = {p.get('key')}",
        "part": f"SELECT count(*) AS n, sum(cents) AS s FROM cat.{t} WHERE g = {p.get('g')}",
        "full": f"SELECT g, count(*) AS n, sum(cents) AS s FROM cat.{t} GROUP BY g ORDER BY g",
        "asof": f"SELECT count(*) AS n, sum(cents) AS s FROM cat.{t} VERSION AS OF {{asof}}",
        "compact": f"CALL cat.system.compact('{t}', {COMPACT_TARGET})",
        "purge": f"CALL cat.system.purge_deletes('{t}')",
        "expire": f"CALL cat.system.expire_snapshots('{t}', 2)",
    }[op]
    kind = "read" if op in READ_OPS else "write" if op in WRITE_OPS else "maintenance"
    return {"op": op, "table": t, "kind": kind, "sql": sql, "params": p}


def _rows(con, sql):
    return [list(r) for r in con.execute(sql).fetchall()]


class Replay:
    """DuckDB model of the two tables, advanced one driver record at a time."""

    def __init__(self, work, data, script):
        self.script = script
        self.con = duckdb.connect()
        batches = os.path.join(work, "batches")
        self.con.execute(f"CREATE VIEW ins AS SELECT * FROM read_parquet('{batches}/ins.parquet')")
        self.con.execute(f"CREATE VIEW ups AS SELECT * FROM read_parquet('{batches}/ups.parquet')")
        src = f"read_parquet('{os.path.join(data, 'orders.parquet')}')"
        for t in TABLES:
            self.con.execute(f"CREATE TABLE {t} AS " + BASE_SELECT.format(src=src))
        self.round = None

    def apply(self, rec):
        """Applies one op record. Returns (right, rows_changed): `right` is
        False for a read whose rows differ from the model's."""
        if rec["round"] != self.round:
            self.round = rec["round"]
            for t in TABLES:
                self.con.execute(f"CREATE OR REPLACE TABLE {t}_asof AS SELECT * FROM {t}")
        if not rec["ok"]:
            return True, 0
        stmt = self.script["rounds"][rec["round"]][rec["idx"]]
        t, p, op = stmt["table"], stmt["params"], stmt["op"]
        q = lambda sql: self.con.execute(sql).fetchone()[0]
        if op == "insert":
            self.con.execute(f"INSERT INTO {t} SELECT {COLS} FROM ins WHERE r = {p['r']}")
            return True, q(f"SELECT count(*) FROM ins WHERE r = {p['r']}")
        if op == "merge":
            n = q(f"SELECT count(*) FROM ups WHERE r = {p['r']}")
            self.con.execute(f"DELETE FROM {t} WHERE k IN (SELECT k FROM ups WHERE r = {p['r']})")
            self.con.execute(f"INSERT INTO {t} SELECT {COLS} FROM ups WHERE r = {p['r']}")
            return True, n
        if op == "update":
            where = f"k % {UPDATE_MOD} = {p['rem']}"
            n = q(f"SELECT count(*) FROM {t} WHERE {where}")
            self.con.execute(f"UPDATE {t} SET cents = cents + {p['delta']}, status = 'U' WHERE {where}")
            return True, n
        if op == "delete":
            where = f"k % {DELETE_MOD} = {p['rem']}"
            n = q(f"SELECT count(*) FROM {t} WHERE {where}")
            self.con.execute(f"DELETE FROM {t} WHERE {where}")
            return True, n
        if op in ("compact", "purge", "expire"):
            return True, 0
        sql = stmt["sql"].replace(f"cat.{t}", t)
        if op == "asof":
            sql = sql.replace(f"{t} VERSION AS OF {{asof}}", f"{t}_asof")
        if op == "point":
            sql += " ORDER BY k"
        want = [[int(v) if isinstance(v, (int, np.integer)) else v for v in r]
                for r in _rows(self.con, sql)]
        got = rec.get("rows")
        return got == want, 0
