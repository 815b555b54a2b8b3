"""Output checker: compares the engine's result rows with DuckDB's.

DuckDB evaluates each query's oracle text (`SparkEntry.oracleSql`) over the
same parquet files the engine read. Rows are compared as multisets: the
columns are put in name order (the oracle texts use the same aliases as the
engine), rows are sorted, and values are compared one by one. Integers and
strings must be equal; floating-point values and decimals must agree to a
relative tolerance of REL_TOL (ABS_TOL near zero), because neither engine
specifies the order in which it sums, and a different order changes the
last bits of a double. A result whose order the query does not specify may
come back in any order.
"""
import datetime
import decimal
import hashlib
import math
import os

REL_TOL = 1e-9
ABS_TOL = 1e-9

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


# ---------------------------------------------------------------- values

def canon(v):
    """A value in a form both sides share: numbers as int or float,
    timestamps as ISO strings, maps and structs as sorted key/value tuples."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return ("list", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        if set(v) == {"$map"}:
            pairs = [(canon(k), canon(x)) for k, x in v["$map"]]
            return ("map", tuple(sorted(pairs, key=lambda p: sort_key(p[0]))))
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            pairs = [(canon(k), canon(x)) for k, x in zip(v["key"], v["value"])]
            return ("map", tuple(sorted(pairs, key=lambda p: sort_key(p[0]))))
        return ("struct", tuple(sorted((str(k).lower(), canon(x)) for k, x in v.items())))
    return str(v)


def is_num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def same(a, b):
    if is_num(a) and is_num(b):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def sort_key(v):
    """Order that tolerates float noise: numbers sort by six significant
    digits, so two sides that differ in the last bits sort alike."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if is_num(v):
        return (1, float(f"{v:.6g}"))
    if isinstance(v, str):
        return (2, v)
    if isinstance(v, tuple):
        return (3, tuple(sort_key(x) for x in v))
    return (4, str(v))


def shape(v):
    """The value with every number blanked: rows that differ only in
    numbers have the same shape."""
    if is_num(v):
        return "#"
    if isinstance(v, tuple):
        return tuple(shape(x) for x in v)
    return v


# ------------------------------------------------------------------ rows

def compare(cols_a, rows_a, cols_b, rows_b):
    """(ok, message) for two results given as column names and row lists;
    `a` is the engine's side, `b` the oracle's."""
    la = [c.lower() for c in cols_a]
    lb = [c.lower() for c in cols_b]
    if sorted(la) != sorted(lb):
        return False, f"columns differ: {cols_a} vs {cols_b}"
    oa = sorted(range(len(la)), key=lambda i: la[i])
    ob = sorted(range(len(lb)), key=lambda i: lb[i])
    ra = [tuple(canon(r[i]) for i in oa) for r in rows_a]
    rb = [tuple(canon(r[i]) for i in ob) for r in rows_b]
    if len(ra) != len(rb):
        return False, f"{len(ra)} rows vs {len(rb)} expected"
    ra.sort(key=sort_key)
    rb.sort(key=sort_key)
    if all(same(x, y) for x, y in zip(ra, rb)):
        return True, f"{len(ra)} rows"
    # Sorting on rounded numbers can order near-ties differently on the
    # two sides; match rows of the same shape against each other instead.
    groups = {}
    for side, rows in ((0, ra), (1, rb)):
        for r in rows:
            groups.setdefault(shape(r), ([], []))[side].append(r)
    for key, (ga, gb) in groups.items():
        if len(ga) != len(gb):
            sample = (ga or gb)[0]
            return False, f"{len(ga)} vs {len(gb)} rows like {str(sample)[:200]}"
        if len(ga) > 5000:
            return False, f"{len(ga)} rows of one shape differ in their numbers"
        left = list(gb)
        for r in ga:
            hit = next((i for i, x in enumerate(left) if same(r, x)), None)
            if hit is None:
                return False, f"no expected row matches {str(r)[:200]}"
            left.pop(hit)
    return True, f"{len(ra)} rows"


def checksum(rows):
    """Order-independent fingerprint of a result: the row count and the sum
    of 64-bit hashes of each row's canonical text."""
    total = 0
    for r in rows:
        text = repr(tuple(canon(v) for v in r)).encode()
        total = (total + int.from_bytes(hashlib.blake2b(text, digest_size=8).digest(), "little")) % (1 << 64)
    return len(rows), total


# ---------------------------------------------------------------- oracle

class Oracle:
    """DuckDB over a fixture directory. Tables are single parquet files or
    directories of part files (the scaled fixture)."""

    def __init__(self, fixture, temp_dir, threads=4):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        # spill inside the output directory, and fail rather than fill the disk
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute("SET max_temp_directory_size = '2GB'")
        self.con.execute("SET memory_limit = '3GB'")
        for t in TABLES:
            p = os.path.join(fixture, f"{t}.parquet")
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    def query(self, sql):
        res = self.con.execute(sql)
        return [c[0] for c in res.description], res.fetchall()

    def close(self):
        self.con.close()
