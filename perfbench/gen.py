"""Seeded inputs of the import workloads.

Every generator draws from its own `random.Random(seed)`, writes with
fixed formatting and `\\n` line ends, so the same seed gives
byte-identical files.
"""
import datetime
import json
import os
import random

# keyless lineitem-shaped slice for the append workload
CSV_ROWS = 8000
LINEITEM_DDL = (
    "CREATE TABLE {table} (L_ORDERKEY BIGINT, L_PARTKEY BIGINT, "
    "L_SUPPKEY BIGINT, L_LINENUMBER INTEGER, L_QUANTITY DOUBLE, "
    "L_EXTENDEDPRICE DOUBLE, L_DISCOUNT DOUBLE, L_TAX DOUBLE, "
    "L_RETURNFLAG VARCHAR(1), L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP)")
LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]

# keyed target of the two upsert workloads
UPSERT_DDL = ("CREATE TABLE {table} (K BIGINT NOT NULL, NAME VARCHAR(40), "
              "QTY INTEGER, PRICE DOUBLE, UPDATED TIMESTAMP, PRIMARY KEY (K))")
UPSERT_COLS = ["k", "name", "qty", "price", "updated"]

# (target rows, delta rows) per keyed workload
UPSERT_SIZES = {"import_json_upsert": (3000, 1000),
                "import_upsert_indb": (5000, 1000)}

MALFORMED_ROW_SHARE = 0.01   # rows carrying one unparseable value
REPEAT_KEY_SHARE = 0.05      # delta rows repeating a key seen earlier
EXISTING_KEY_SHARE = 0.5     # delta keys already in the target


def _ts(rng):
    """A second-precision timestamp in 1992..2000."""
    s = rng.randrange(694224000, 978307200)  # 1992-01-01 .. 2001-01-01 UTC
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=s)


def _price(rng, hi):
    return round(rng.uniform(1.0, hi), 2)


def lineitem_csv(path, seed, rows=CSV_ROWS):
    """`;`-separated lineitem slice; timestamps in `dd.MM.yyyy HH:mm:ss`,
    the third pattern of the import's timestamp chain."""
    rng = random.Random(seed)
    with open(path, "w", newline="\n") as f:
        f.write(";".join(LINEITEM_COLS) + "\n")
        for i in range(rows):
            v = [str(1 + i // 4), str(rng.randrange(1, 20001)),
                 str(rng.randrange(1, 1001)), str(1 + i % 4),
                 repr(float(rng.randrange(1, 51))), repr(_price(rng, 100000.0)),
                 repr(rng.randrange(0, 11) / 100), repr(rng.randrange(0, 9) / 100),
                 rng.choice("ANR"), rng.choice("FO"),
                 _ts(rng).strftime("%d.%m.%Y %H:%M:%S")]
            if rng.random() < MALFORMED_ROW_SHARE:
                j = rng.choice([0, 1, 3, 4, 5, 10])
                v[j] = ("31.13.1995 10:00:00" if j == 10
                        else v[j] + ("x" if j in (4, 5) else "k"))
            f.write(";".join(v) + "\n")


# timestamp format of the seed rows and of each delta format; the CSV
# one is the third pattern of the import's timestamp chain
TS_FORMATS = {"target": "%Y-%m-%d %H:%M:%S", "json": "%Y-%m-%d %H:%M:%S",
              "csv": "%d.%m.%Y %H:%M:%S"}
BAD_TS = {"json": "1995-13-31 10:00:00", "csv": "31.13.1995 10:00:00"}


def _upsert_row(rng, k, fmt):
    return {"k": k, "name": "n%06d" % rng.randrange(1000000),
            "qty": rng.randrange(1, 1000), "price": _price(rng, 5000.0),
            "updated": _ts(rng).strftime(TS_FORMATS[fmt])}


def _csv_line(r):
    return ";".join(str(r[c]) if not isinstance(r[c], float) else repr(r[c])
                    for c in UPSERT_COLS) + "\n"


def upsert_inputs(workdir, seed, target_rows, delta_rows, fmt):
    """Target seed rows (`target.csv`) and a delta keyed by `k`, as a
    JSON array (`fmt="json"`) or a `;`-CSV: some keys repeat inside the
    delta, about half exist in the target, and a few values do not
    parse."""
    rng = random.Random(seed)
    keys = rng.sample(range(1, 20 * (target_rows + delta_rows)),
                      target_rows + delta_rows)
    target_keys, fresh_keys = keys[:target_rows], keys[target_rows:]
    with open(os.path.join(workdir, "target.csv"), "w", newline="\n") as f:
        f.write(";".join(UPSERT_COLS) + "\n")
        for k in sorted(target_keys):
            f.write(_csv_line(_upsert_row(rng, k, "target")))
    seen = []
    rows = []
    for i in range(delta_rows):
        if seen and rng.random() < REPEAT_KEY_SHARE:
            k = rng.choice(seen)
        elif rng.random() < EXISTING_KEY_SHARE:
            k = rng.choice(target_keys)
        else:
            k = fresh_keys[i]
        seen.append(k)
        r = _upsert_row(rng, k, fmt)
        if rng.random() < MALFORMED_ROW_SHARE:
            c = rng.choice(["qty", "price", "updated"])
            r[c] = {"qty": "%dz" % r["qty"], "price": "%rx" % r["price"],
                    "updated": BAD_TS[fmt]}[c]
        rows.append(r)
    path = os.path.join(workdir, "delta." + fmt)
    with open(path, "w", newline="\n") as f:
        if fmt == "json":
            f.write("[\n" + ",\n".join(json.dumps(r) for r in rows) + "\n]\n")
        else:
            f.write(";".join(UPSERT_COLS) + "\n" + "".join(_csv_line(r) for r in rows))
    return path


def generate(workload, workdir, seed):
    """Write the workload's inputs into `workdir`; returns the file the
    import reads."""
    os.makedirs(workdir, exist_ok=True)
    if workload == "import_csv_append":
        path = os.path.join(workdir, "lineitem.csv")
        lineitem_csv(path, seed)
        return path
    target_rows, delta_rows = UPSERT_SIZES[workload]
    return upsert_inputs(workdir, seed, target_rows, delta_rows,
                         "json" if workload == "import_json_upsert" else "csv")
