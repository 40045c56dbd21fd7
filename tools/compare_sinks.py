#!/usr/bin/env python3
"""Compare two sets of parquet sinks table by table in DuckDB.

Usage:
    python3 tools/compare_sinks.py [--minify-json-arrays] <parent> <change>

<parent> and <change> are directories whose subdirectories are parquet
tables (one or more part files each), e.g. a movie_etl benchmark run's
`.perfbench/run/movie_etl/sink` of two checkouts. For each table it prints:
whether the schemas (column names and types, in order) are equal, the row
counts, the row counts of `EXCEPT ALL` in both directions, and, for every
column the two sides share whose values differ, the counts of that column's
values left over by `EXCEPT ALL` in each direction.

--minify-json-arrays rewrites every text value that DuckDB's `json_valid`
accepts and that is a JSON array into its compact form (`json(value)`) on
both sides before comparing, so list text that differs only in layout
compares equal.

Exit status: 0 when every table has equal schemas and empty `EXCEPT ALL`
both ways, 1 otherwise.
"""
import argparse
import os
import sys

import duckdb


def tables(root):
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))}


def quote(name):
    return '"' + name.replace('"', '""') + '"'


def relation(con, name, path, minify):
    """A view `name` over the parquet files at `path`; returns its schema."""
    src = f"read_parquet('{os.path.join(path, '*.parquet')}')"
    schema = con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()
    cols = []
    for col, typ, *_ in schema:
        q = quote(col)
        if minify and typ == "VARCHAR":
            cols.append(f"CASE WHEN json_valid({q}) AND "
                        f"starts_with(ltrim({q}), '[') "
                        f"THEN CAST(json({q}) AS VARCHAR) ELSE {q} END AS {q}")
        else:
            cols.append(q)
    con.sql(f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT {', '.join(cols)} FROM {src}")
    return [(col, typ) for col, typ, *_ in schema]


def except_all(con, cols, left, right):
    sel = ", ".join(quote(c) for c in cols)
    return con.sql(f"SELECT COUNT(*) FROM (SELECT {sel} FROM {left} "
                   f"EXCEPT ALL SELECT {sel} FROM {right})").fetchone()[0]


def compare(con, table, parent, change, minify):
    """Prints the comparison of one table; returns whether it is equal."""
    a = relation(con, "a", os.path.join(parent, table), minify)
    b = relation(con, "b", os.path.join(change, table), minify)
    rows = [con.sql(f"SELECT COUNT(*) FROM {v}").fetchone()[0]
            for v in ("a", "b")]
    print(f"{table}:")
    print(f"  schema equal: {a == b}")
    if a != b:
        print(f"    only in parent: {[c for c in a if c not in b]}")
        print(f"    only in change: {[c for c in b if c not in a]}")
    print(f"  rows: parent {rows[0]}, change {rows[1]}")
    names_b = {c for c, _ in b}
    common = [c for c, _ in a if c in names_b]
    ab = except_all(con, common, "a", "b")
    ba = except_all(con, common, "b", "a")
    scope = "" if a == b else f" (over the {len(common)} shared columns)"
    print(f"  except all{scope}: parent-change {ab}, change-parent {ba}")
    if ab or ba:
        for c in common:
            cab = except_all(con, [c], "a", "b")
            cba = except_all(con, [c], "b", "a")
            if cab or cba:
                print(f"    {c}: parent-change {cab}, change-parent {cba}")
    return a == b and ab == 0 and ba == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--minify-json-arrays", action="store_true",
                    help="compare JSON-array text values in compact form")
    args = ap.parse_args()

    con = duckdb.connect()
    ta, tb = tables(args.parent), tables(args.change)
    equal = ta == tb
    for t in sorted(ta ^ tb):
        print(f"{t}: only in {'parent' if t in ta else 'change'}")
    for t in sorted(ta & tb):
        equal &= compare(con, t, args.parent, args.change,
                         args.minify_json_arrays)
    print("EQUAL" if equal else "DIFFERENT")
    return 0 if equal else 1


if __name__ == "__main__":
    sys.exit(main())
