"""Result checks of the end-to-end SPARQL benchmark.

An engine result (a W3C SPARQL results JSON written by
`Sparql.writeResultsJson`) and its DuckDB oracle are compared by row
count and content hash, normalised the way `scripts/oracle_compare.py`
normalises: columns sorted by name, numbers rounded to 6 places,
values rendered as strings, rows sorted, md5 over the whole table.
Literal values come back from the engine as lexical forms, so a value
that reads as a number is compared as that number on both sides."""
import hashlib
import json
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]
_NUMBER = re.compile(r"^-?\d+(\.\d+)?([eE][-+]?\d+)?$")


def canon(v):
    if v is None:
        return ""
    if isinstance(v, (int, float)):
        return repr(round(float(v), 6))
    s = str(v)
    return repr(round(float(s), 6)) if _NUMBER.match(s) else s


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted([canon(r[i]) for i in order] for r in rows)
    return hashlib.md5(str(body).encode()).hexdigest(), len(body)


def read_engine(result_dir):
    """(columns, rows, bytes) of one writeResultsJson output directory:
    its part files concatenated in name order form one document."""
    parts = sorted(f for f in os.listdir(result_dir) if f.startswith("part-"))
    text, size = [], 0
    for p in parts:
        with open(os.path.join(result_dir, p), encoding="utf-8") as f:
            chunk = f.read()
        text.append(chunk)
        size += len(chunk.encode())
    doc = json.loads("".join(text))
    cols = doc["head"]["vars"]
    rows = [[b[c]["value"] if c in b else None for c in cols]
            for b in doc["results"]["bindings"]]
    return cols, rows, size


class Oracle:
    def __init__(self, src_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{src_dir}/{t}.parquet'")

    def expected(self, sql):
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()

    def check(self, result_dir, sql=None, count=None):
        """Compare one engine result with `sql`'s answer, or (for a
        read-your-writes probe) its single value with `count`. Returns
        (ok, detail dict)."""
        cols, rows, size = read_engine(result_dir)
        detail = {"rows": len(rows), "bytes": size}
        if count is not None:
            got = float(rows[0][0]) if len(rows) == 1 else None
            detail["expected"] = count
            return got == float(count), detail
        ocols, orows = self.expected(sql)
        if sorted(cols) != sorted(ocols):
            detail["columns"] = [cols, ocols]
            return False, detail
        mine, theirs = digest(cols, rows), digest(ocols, orows)
        detail["oracle_rows"] = theirs[1]
        return mine == theirs, detail
