"""Oracles that never call the library's merge code.

The import oracles replay the generated files in DuckDB: rows with a
value that does not parse are dropped, in-file duplicate keys resolve
last-wins (UPDATE_ALL_JOIN), and the delta replaces or extends the
seeded target (UPSERT). The expected table is rendered exactly like the
harness renders the Derby table (`JdbcSeed.canonicalRows`) and hashed.
"""
import datetime
import hashlib
import struct

import duckdb

import gen

LINEITEM_TYPES = ["BIGINT", "BIGINT", "BIGINT", "INTEGER", "DOUBLE", "DOUBLE",
                  "DOUBLE", "DOUBLE", "VARCHAR", "VARCHAR", "TIMESTAMP"]
UPSERT_TYPES = ["BIGINT", "VARCHAR", "INTEGER", "DOUBLE", "TIMESTAMP"]


def _parse(col, typ, ts_format):
    if typ == "TIMESTAMP":
        return f"try_strptime({col}, '{ts_format}')"
    if typ == "VARCHAR":
        return col
    return f"TRY_CAST({col} AS {typ})"


def _typed_select(cols, types, ts_format):
    """Typed projection plus a flag for rows holding a value that is
    non-empty and still fails its parse (the import's validation rule)."""
    parsed = [f"{_parse(c, t, ts_format)} AS {c}" for c, t in zip(cols, types)]
    bad = " OR ".join(
        f"({c} IS NOT NULL AND trim({c}) <> '' AND {_parse(c, t, ts_format)} IS NULL)"
        for c, t in zip(cols, types) if t != "VARCHAR")
    return ", ".join(parsed), bad


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return "%016x" % struct.unpack("<Q", struct.pack("<d", v))[0]
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def canonical(rows):
    return sorted("\u0001".join(cell(v) for v in r) for r in rows)


def sha256(lines):
    h = hashlib.sha256()
    for line in lines:
        h.update((line + "\n").encode("utf-8"))
    return h.hexdigest()


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 1")  # keeps row_number() OVER () in file order
    return con


def expected_append(csv_path):
    con = _connect()
    cols = gen.LINEITEM_COLS
    sel, bad = _typed_select(cols, LINEITEM_TYPES, "%d.%m.%Y %H:%M:%S")
    src = f"read_csv('{csv_path}', delim=';', header=true, all_varchar=true)"
    rows = con.execute(f"SELECT {sel} FROM {src} WHERE NOT ({bad})").fetchall()
    (invalid,) = con.execute(f"SELECT count(*) FROM {src} WHERE {bad}").fetchone()
    return {"lines": canonical(rows), "invalid": invalid}


def expected_upsert(target_csv, delta):
    con = _connect()
    cols = gen.UPSERT_COLS
    fmt = "json" if delta.endswith(".json") else "csv"
    as_varchar = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in cols) + "}"
    src = (f"read_json('{delta}', format='array', columns={as_varchar})" if fmt == "json"
           else f"read_csv('{delta}', delim=';', header=true, all_varchar=true)")
    con.execute(f"CREATE TABLE delta AS SELECT *, row_number() OVER () AS ord FROM {src}")
    sel, _ = _typed_select(cols, UPSERT_TYPES, gen.TS_FORMATS["target"])
    con.execute(
        f"CREATE TABLE target AS SELECT {sel} FROM "
        f"read_csv('{target_csv}', delim=';', header=true, all_varchar=true)")
    sel, bad = _typed_select(cols, UPSERT_TYPES, gen.TS_FORMATS[fmt])
    col_list = ", ".join(cols)
    rows = con.execute(f"""
        WITH valid AS (SELECT {sel}, ord FROM delta WHERE NOT ({bad})),
        last AS (SELECT * FROM valid
                 QUALIFY row_number() OVER (PARTITION BY k ORDER BY ord DESC) = 1)
        SELECT {col_list} FROM target WHERE k NOT IN (SELECT k FROM last)
        UNION ALL SELECT {col_list} FROM last""").fetchall()
    (invalid,) = con.execute(f"SELECT count(*) FROM delta WHERE {bad}").fetchone()
    return {"lines": canonical(rows), "invalid": invalid}
