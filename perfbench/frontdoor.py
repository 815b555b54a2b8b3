"""Client side of the `frontdoor` workload: closed-loop clients that drive
the statement protocol (POST /v1/statement, then GET each nextUri until a
response carries none) the way the Presto CLI and JDBC driver do.
"""
import datetime
import http.client
import json
import threading
import time
import urllib.parse

import check

USER = "perfbench"
READ_SOURCE = "perfbench-read"
WRITE_SOURCE = "perfbench-write"

# A statement returning on the order of 10^5 rows (all of `orders`: 150k
# rows at sf0.1), checked by row count and an order-independent checksum.
LARGE = ("large_orders", "SELECT * FROM orders")

# Each round the write client recreates two warehouse tables: a CTAS, then
# an INSERT INTO ... SELECT of a disjoint slice. The final state is checked
# against DuckDB's evaluation of both SELECTs.
_REVENUE = """SELECT n_name, year(o_orderdate) AS o_year,
  sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE {cond}
GROUP BY n_name, year(o_orderdate)"""
_SHIPPED = """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
  l_extendedprice, l_discount, l_shipdate
FROM lineitem WHERE {cond}"""

WRITE_TABLES = {
    "pb_nation_revenue": [_REVENUE.format(cond="o_orderdate < TIMESTAMP '1998-01-01'"),
                          _REVENUE.format(cond="o_orderdate >= TIMESTAMP '1998-01-01'")],
    "pb_shipped": [_SHIPPED.format(cond="l_shipdate < TIMESTAMP '1995-04-01'"),
                   _SHIPPED.format(cond="l_shipdate >= TIMESTAMP '2001-07-01'")],
}


def write_statements():
    """(name, sql, kind) of one round of the write client."""
    out = []
    for table, (first, second) in WRITE_TABLES.items():
        out.append((f"drop_{table}", f"DROP TABLE IF EXISTS {table}", "ddl"))
        out.append((f"ctas_{table}", f"CREATE TABLE {table} AS {first}", "write"))
        out.append((f"insert_{table}", f"INSERT INTO {table} {second}", "write"))
    return out


class Outcome:
    """What one client saw of one statement. Times are seconds; `post_at`
    is epoch time so it lines up with the server's job timestamps."""

    def __init__(self, name, kind):
        self.name, self.kind = name, kind
        self.query_id = None
        self.post_at = 0.0
        self.post_s = self.first_page_s = self.last_page_s = self.total_s = 0.0
        self.gets = self.useful_gets = self.pages = self.json_bytes = 0
        self.columns, self.rows, self.error = [], [], None


def run_statement(conn, name, sql, kind, source):
    o = Outcome(name, kind)
    o.post_at = time.time()
    t0 = time.perf_counter()
    try:
        conn.request("POST", "/v1/statement", body=sql.encode(),
                     headers={"X-Presto-User": USER, "X-Presto-Source": source})
        resp = conn.getresponse()
        body = resp.read()
        o.post_s = time.perf_counter() - t0
        if resp.status != 200:
            raise RuntimeError(f"POST {resp.status}: {body[:300]!r}")
        doc = json.loads(body)
        o.query_id = doc.get("id")
        while True:
            if doc.get("error"):
                raise RuntimeError(doc["error"].get("message", "error")[:500])
            if doc.get("columns") and not o.columns:
                o.columns = [(c["name"], c["type"]) for c in doc["columns"]]
            data = doc.get("data")
            if data:
                now = time.perf_counter() - t0
                if not o.pages:
                    o.first_page_s = now
                o.last_page_s = now
                o.pages += 1
                o.json_bytes += len(body)
                o.rows.extend(data)
            nxt = doc.get("nextUri")
            if not nxt:
                break
            conn.request("GET", urllib.parse.urlsplit(nxt).path)
            resp = conn.getresponse()
            body = resp.read()
            o.gets += 1
            if resp.status != 200:
                raise RuntimeError(f"GET {resp.status}: {body[:300]!r}")
            doc = json.loads(body)
            if doc.get("data") or not doc.get("nextUri"):
                o.useful_gets += 1
    except Exception as e:  # noqa: BLE001 - any failure fails the statement
        o.error = f"{type(e).__name__}: {e}"
    o.total_s = time.perf_counter() - t0
    return o


class Client(threading.Thread):
    """One closed-loop client: sends its statements one after another,
    each as soon as the previous one has returned its last page."""

    def __init__(self, port, statements, source):
        super().__init__(daemon=True)
        self.port, self.statements, self.source = port, statements, source
        self.outcomes = []

    def run(self):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=150)
        try:
            for name, sql, kind in self.statements:
                o = run_statement(conn, name, sql, kind, self.source)
                if o.error:
                    # the connection may be in an unknown state after a failure
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=150)
                self.outcomes.append(o)
        finally:
            conn.close()


def normalise_rows(columns, rows):
    """Front-door rows in the checker's value forms: timestamps arrive as
    ISO-like text (`1998-02-06T00:00`, `1998-02-06 00:00:00.0`)."""
    ts = [i for i, (_, t) in enumerate(columns) if t.startswith("timestamp")]
    if not ts:
        return rows
    out = []
    for r in rows:
        r = list(r)
        for i in ts:
            if isinstance(r[i], str):
                r[i] = check.canon(datetime.datetime.fromisoformat(r[i]))
        out.append(r)
    return out


def check_read(oracle, o, sql):
    cols = [c for c, _ in o.columns]
    rows = normalise_rows(o.columns, o.rows)
    ocols, orows = oracle(sql)
    if o.name == LARGE[0]:
        got, want = check.checksum(rows), check.checksum(orows)
        if [c.lower() for c in cols] != [c.lower() for c in ocols]:
            return False, f"columns differ: {cols} vs {ocols}"
        if got != want:
            _, diff = check.compare(cols, rows, ocols, orows)
            return False, f"count/checksum {got} vs {want}; {diff}"
        return True, f"count/checksum {got}"
    return check.compare(cols, rows, ocols, orows)
