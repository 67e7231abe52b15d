"""Output check: replay the generated inputs independently and compare.

The replay parses the generated CSVs with DuckDB's CSV reader, applies
the reference's upsert semantics batch by batch in the order the harness
applied them, loads the final tables into DuckDB and runs the six report
queries there. Each report the program wrote must equal DuckDB's answer
as a multiset of rows (values compared exactly: amounts are multiples of
0.25, so every sum is exact in any order). For `stream_maint` the durable
maintained report must also equal its recompute, over both the program's
final store and the replay.
"""
import re
from pathlib import Path

import duckdb
import pyarrow as pa

ORDER_COLS = ["order_id", "product_id", "currency", "quantity", "shipping_cost", "amount",
              "channel", "channel_group", "campaign", "date_time"]
INV_COLS = ["product_id", "name", "quantity", "category", "sub_category"]
ORDER_TYPES = [pa.string(), pa.string(), pa.string(), pa.int32(), pa.float64(), pa.float64(),
               pa.string(), pa.string(), pa.string(), pa.timestamp("us")]
INV_TYPES = [pa.string(), pa.string(), pa.int32(), pa.string(), pa.string()]
KEYS = {"orders": (0, 1), "inventories": (0,)}


def snake(name):
    return re.sub(r"([a-z])([A-Z])", r"\1_\2", name).lower()


def read_rows(path, table, con=None):
    """Parse one generated CSV with DuckDB's reader (not Spark's) and
    normalise it as the pipeline's contract says: snake_case headers,
    empty fields as NULL, timestamps in either ISO form, NULL when
    neither parses."""
    con = con or duckdb.connect()
    cols = ORDER_COLS if table == "orders" else INV_COLS
    header = open(path, encoding="utf-8").readline().strip().split(",")
    assert [snake(h) for h in header] == cols, f"{path}: header {header}"
    typed = {"quantity": "TRY_CAST(quantity AS INTEGER)",
             "shipping_cost": "CAST(shipping_cost AS DOUBLE)", "amount": "CAST(amount AS DOUBLE)",
             "date_time": "coalesce(try_strptime(date_time, '%Y-%m-%dT%H:%M:%SZ'), "
                          "try_strptime(date_time, '%Y-%m-%dT%H:%MZ'))"}
    names = ", ".join(f"'{c}': 'VARCHAR'" for c in cols)
    sql = (f"SELECT {', '.join(typed.get(c, c) for c in cols)} FROM read_csv('{path}', header = true, "
           f"columns = {{{names}}}, quote = '\"', escape = '\"', nullstr = '', auto_detect = false)")
    return con.sql(sql).fetchall()


class Table:
    """Rows in insertion order with the reference's upsert semantics:
    a first load into an empty table appends every row; later, for each
    key already present the latest row takes the batch's last row for that
    key, and rows with unseen keys are appended (duplicates kept)."""

    def __init__(self, key):
        self.key = key
        self.rows = []
        self.latest = {}

    def upsert(self, batch):
        kf = lambda row: tuple(row[i] for i in self.key)
        if not self.rows:
            for row in batch:
                self.latest[kf(row)] = len(self.rows)
                self.rows.append(row)
            return
        last = {}
        for row in batch:
            last[kf(row)] = row
        seen = set(self.latest)
        for k, row in last.items():
            if k in seen:
                self.rows[self.latest[k]] = row
        for row in batch:
            k = kf(row)
            if k not in seen:
                self.latest[k] = len(self.rows)
                self.rows.append(row)


REPORT_SQL = {
    "revenuePerProduct": """
        SELECT o.product_id, i.name, sum(o.quantity * o.amount) AS total_revenue
        FROM orders o JOIN inventories i USING (product_id)
        GROUP BY o.product_id, i.name""",
    "lowStock": """
        SELECT product_id, name AS product_name, quantity AS current_stock, category, sub_category
        FROM inventories WHERE quantity < 10""",
    "ordersPerMonth": """
        SELECT o.product_id, i.name, CAST(month(o.date_time) AS INTEGER) AS month,
               CAST(year(o.date_time) AS INTEGER) AS year, CAST(sum(o.quantity) AS BIGINT) AS total_orders
        FROM orders o JOIN inventories i USING (product_id)
        GROUP BY o.product_id, i.name, month(o.date_time), year(o.date_time)""",
    "revenuePerCategory": """
        SELECT i.category, sum(o.quantity * o.amount) AS total_revenue
        FROM orders o JOIN inventories i USING (product_id)
        GROUP BY i.category""",
    "inventoryStatus": """
        SELECT i.product_id, i.name AS product_name, i.quantity AS current_stock,
               CAST(sum(o.quantity) AS BIGINT) AS total_sold,
               i.quantity - CAST(sum(o.quantity) AS BIGINT) AS remaining_stock
        FROM inventories i LEFT JOIN orders o ON o.product_id = i.product_id
        WHERE i.product_id = $pid
        GROUP BY i.product_id, i.name, i.quantity""",
    "mostSoldPerCategory": """
        SELECT i.category, o.product_id, i.name, CAST(sum(o.quantity) AS BIGINT) AS total_sold
        FROM orders o JOIN inventories i USING (product_id)
        GROUP BY i.category, o.product_id, i.name""",
}

RECOMPUTE_SQL = """
    SELECT product_id, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(amount * 100) AS BIGINT)) AS BIGINT) AS amount_cents
    FROM {src} GROUP BY product_id"""


def current_version_glob(root):
    v = (root / "_CURRENT").read_text().strip()
    return str(root / v / "**" / "*.parquet")


def multiset_diff(con, a_sql, b_sql):
    """Rows in a but not b plus rows in b but not a, multiset-wise."""
    one = con.sql(f"SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql}))").fetchone()[0]
    two = con.sql(f"SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql}))").fetchone()[0]
    return one + two


def check(work, result):
    """Return a list of failures (empty when every output matches)."""
    work = Path(work)
    tables = {"orders": Table(KEYS["orders"]), "inventories": Table(KEYS["inventories"])}
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for step in result["replay"]:
        batch = []
        for f in step["files"]:
            batch.extend(read_rows(work / f, step["table"], con))
        tables[step["table"]].upsert(batch)

    for name, cols, types in (("orders", ORDER_COLS, ORDER_TYPES), ("inventories", INV_COLS, INV_TYPES)):
        rows = tables[name].rows
        arrow = pa.table({c: pa.array([r[i] for r in rows], type=t)
                          for i, (c, t) in enumerate(zip(cols, types))})
        con.register(f"{name}_arrow", arrow)
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_arrow")

    failures = []
    pid = result["report_product_id"]
    for name, sql in REPORT_SQL.items():
        out = work / "out" / name
        cols = [d[0] for d in con.sql(sql.replace("$pid", f"'{pid}'")).description]
        got = f"SELECT {', '.join(cols)} FROM read_parquet('{out}/*.parquet')"
        want = sql.replace("$pid", f"'{pid}'")
        n_got = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
        n_want = con.sql(f"SELECT count(*) FROM ({want})").fetchone()[0]
        diff = multiset_diff(con, got, want)
        if diff or n_got != n_want:
            failures.append(f"{name}: {n_got} rows vs {n_want} expected, {diff} differing")

    if "report_root" in result:
        report = current_version_glob(work / result["report_root"])
        store = current_version_glob(work / result["live_roots"][0])
        maintained = f"SELECT product_id, n_rows, amount_cents FROM read_parquet('{report}')"
        for label, src in (("program store", f"read_parquet('{store}')"), ("replay", "orders")):
            diff = multiset_diff(con, maintained, RECOMPUTE_SQL.format(src=src))
            if diff:
                failures.append(f"maintained report vs recompute over the {label}: {diff} rows differ")
    return failures
