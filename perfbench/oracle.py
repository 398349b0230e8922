"""Expected results from DuckDB, and the result digest shared with the JVM
side (`perfbench/src/perfbench/Canon.scala`).

A digest is sha256 over the sorted column names and the sorted canonical
rows. Cells follow the repo's own oracle compare: integral numbers are
equal across integer, decimal and double types; other doubles compare
bit-exact, with -0.0 folded into 0.0.
"""
import datetime as dt
import decimal
import hashlib
import math
import pickle
import re
import struct

import duckdb


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isfinite(v) and v == math.floor(v) and abs(v) < 9.007199254740992e15:
            return str(int(v))
        return struct.pack(">d", 0.0 if v == 0.0 else v).hex()
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return format(v.normalize(), "f")
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v).replace("\\", "\\\\").replace("\n", "\\n").replace("\x1f", "\\u001f")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over the run's input parquet files, with the oracle SQL the
    program registers (`SparkEntry.oracleSql`). Results are cached under
    `cache`, keyed by the SQL and the bytes of the inputs it names, so an
    expensive restatement runs once per checkout for a given input."""

    def __init__(self, inputs, sql, tmp, cache):
        self.inputs = inputs
        self.sql = sql
        self.store = cache
        self.file_hash = {f.stem: hashlib.sha256(f.read_bytes()).hexdigest()
                          for f in sorted(inputs.glob("*.parquet"))}
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp}'")
        self.con.execute("SET threads = 4")
        self.cache = {}
        for f in sorted(inputs.glob("*.parquet")):
            self._view(f.stem, f"SELECT * FROM read_parquet('{f}')")

    def _view(self, name, select):
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS {select}")

    def rows(self, query):
        key = query
        sql = self.sql[query]
        named = [f"{t}:{h}" for t, h in self.file_hash.items() if re.search(rf"\b{t}\b", sql)]
        path = self.store / (hashlib.sha256(
            f"{'|'.join(named)}|{sql}".encode()).hexdigest() + ".pkl")
        if key not in self.cache and path.exists():
            self.cache[key] = pickle.loads(path.read_bytes())
        if key not in self.cache:
            cur = self.con.execute(self.sql[query])
            cols = [d[0] for d in cur.description]
            self.cache[key] = (cols, cur.fetchall())
            self.store.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(f".{id(self)}.tmp")
            tmp.write_bytes(pickle.dumps(self.cache[key]))
            tmp.replace(path)
        return self.cache[key]

    def check(self, c):
        """Return None when the check holds, else a one-line reason."""
        kind = c["kind"]
        if kind == "equal":
            ok = c["expect"] == c["got"]
            return None if ok else f"{c.get('what', 'value')}: expected {c['expect']}, got {c['got']}"
        if kind == "oracle":
            want = digest(*self.rows(c["query"]))
        elif kind == "oracle_sum":
            cols, rows = self.rows(c["query"])
            i = cols.index(c["column"])
            want = sum(r[i] for r in rows)
            return None if want == c["got"] else f"{c['query']} sum({c['column']}): expected {want}, got {c['got']}"
        else:
            return f"unknown check kind {kind}"
        return None if want == c["digest"] else f"{c['query']}: digest mismatch"
