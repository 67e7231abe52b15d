#!/usr/bin/env python3
"""Extract the order lines and parts the benchmark's input generator
draws from, out of a TPC-H-style sf0.1 parquet directory.

Usage:
    python3 perfbench/derive_sf.py <sf0.1 dir> perfbench/data

Writes two gzipped CSVs, byte-identical on every run over the same data:

- `parts.csv.gz`: every part as `partkey,name,brand,type,size,retailprice`.
  The generator turns each into an inventory row.
- `lines.csv.gz`: the order lines of the orders whose key is below
  ORDER_KEY_BOUND, as `orderkey,partkey,quantity,orderdate` (orderdate as
  days since 1970-01-01), one line per (orderkey, partkey), the lowest line
  number kept. The generator draws every orders row it writes from these
  lines; the bound keeps the extract about a third of sf0.1's lineitem
  while leaving more lines than a 60 s run consumes.

It also prints the distributions the generated inputs inherit, for the
benchmark's notes.
"""
import gzip
import sys
from pathlib import Path

import duckdb

ORDER_KEY_BOUND = 52000


def write_gz(path, header, rows):
    body = header + "\n" + "".join(",".join(str(v) for v in r) + "\n" for r in rows)
    # mtime=0 keeps the gzip header, and so the file, byte-identical
    path.write_bytes(gzip.compress(body.encode(), compresslevel=9, mtime=0))


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    src, out = Path(sys.argv[1]), Path(sys.argv[2])
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    part, lineitem, orders = (f"read_parquet('{src / t}.parquet')" for t in ("part", "lineitem", "orders"))
    parts = con.sql(f"""
        SELECT p_partkey, p_name, p_brand, p_type, p_size, format('{{:.2f}}', p_retailprice)
        FROM {part} ORDER BY p_partkey""").fetchall()
    lines = con.sql(f"""
        SELECT l_orderkey, l_partkey, CAST(l_quantity AS INTEGER),
               CAST(epoch(o_orderdate) / 86400 AS BIGINT)
        FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                           ORDER BY l_linenumber, l_quantity) AS rn
              FROM {lineitem})
        JOIN {orders} ON o_orderkey = l_orderkey
        WHERE rn = 1 AND l_orderkey < {ORDER_KEY_BOUND}
        ORDER BY l_orderkey, l_linenumber, l_partkey""").fetchall()
    assert all("," not in str(v) and '"' not in str(v) for r in parts for v in r)
    write_gz(out / "parts.csv.gz", "partkey,name,brand,type,size,retailprice", parts)
    write_gz(out / "lines.csv.gz", "orderkey,partkey,quantity,orderdate", lines)

    print(f"parts: {len(parts)}; lines: {len(lines)} "
          f"of {len({r[0] for r in lines})} orders below key {ORDER_KEY_BOUND}")
    for label, sql in (
        ("lines per part (min, median, max)",
         f"SELECT min(c), median(c), max(c) FROM (SELECT count(*) c FROM {lineitem} GROUP BY l_partkey)"),
        ("quantity (min, max, distinct)",
         f"SELECT min(l_quantity), max(l_quantity), count(DISTINCT l_quantity) FROM {lineitem}"),
        ("order date (min, max)", f"SELECT min(o_orderdate), max(o_orderdate) FROM {orders}"),
        ("lines per order (median, max)",
         f"SELECT median(c), max(c) FROM (SELECT count(*) c FROM {lineitem} GROUP BY l_orderkey)"),
        ("retail price (min, max)", f"SELECT min(p_retailprice), max(p_retailprice) FROM {part}"),
        ("part size (min, max)", f"SELECT min(p_size), max(p_size) FROM {part}"),
    ):
        print(f"{label}: {con.sql(sql).fetchone()}")


if __name__ == "__main__":
    main()
