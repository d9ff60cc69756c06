#!/usr/bin/env python3
"""Turn FaceTool's JSON into perfbench/faces.tsv and perfbench/groups.tsv.

A face qualifies when it ran under 1 s, left the shared artifact root
empty, has an oracle, and its Spark row count equals the DuckDB oracle's
count on the same tables; faces.tsv keeps the LIMIT (default 100) fastest
qualifying faces, so one pass fits the benchmark's per-run time budget. Every replay-group member enters
groups.tsv with its read-back count (checked against DuckDB where the
member has an oracle).

Usage: oracle_counts.py <sfDir> <facetool.json> <outDir> [LIMIT]
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf, src, out, limit="100"):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    def oracle(sql):
        try:
            return con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except Exception as e:  # an oracle DuckDB cannot run is no oracle
            print(f"oracle failed: {e}", file=sys.stderr)
            return None

    rows = json.load(open(src))
    faces, members, dropped = [], [], []
    for r in rows:
        want = oracle(r["sql"]) if r.get("sql") else None
        if r["kind"] == "face":
            ok = (r["rows"] >= 0 and r["sec"] < 1.0 and r["shared_empty"]
                  and want is not None and want == r["rows"])
            (faces if ok else dropped).append((r["name"], r["rows"], r["sec"]))
        else:
            if want is not None and want != r["rows"]:
                sys.exit(f"{r['name']}: read-back {r['rows']} != oracle {want}")
            members.append((r["name"], r["rows"], r["group"]))
    faces = sorted(faces, key=lambda f: f[2])[:int(limit)]
    with open(os.path.join(out, "faces.tsv"), "w") as f:
        f.write(f"# face<TAB>rows: DuckDB oracle row count at {os.path.basename(sf)}\n")
        for n, c, _ in sorted(faces):
            f.write(f"{n}\t{c}\n")
    with open(os.path.join(out, "groups.tsv"), "w") as f:
        f.write(f"# member face<TAB>read-back rows at {os.path.basename(sf)}<TAB>replay group\n")
        for n, c, g in sorted(members, key=lambda m: (m[2], m[0])):
            f.write(f"{n}\t{c}\t{g}\n")
    print(f"faces={len(faces)} dropped={len(dropped)} members={len(members)}")
    for d in dropped:
        print("dropped", *d, file=sys.stderr)


if __name__ == "__main__":
    main(*sys.argv[1:])
