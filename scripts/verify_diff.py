#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs query by query.

    python3 scripts/verify_diff.py A_DIR B_DIR [query ...]

For every query (the named ones, or every result dir found in either
side) both result sets are read with DuckDB, columns sorted by name and
rows sorted on all columns (so row order does not matter), then streamed
side by side and compared value by value with selfcheck.py's `canon()`.
Prints one line per query, with the first differing row, and lists the
queries that differ. A query whose result dir is missing or unreadable on
either side counts as differing.

Meant for the queries without an oracle: a before/after identity check of
two trees' outputs on the same scale factor.

Exits 0 when every compared query is identical, 1 when any differs, and 2
with this message on bad arguments.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from selfcheck import canon  # noqa: E402

BATCH = 100_000


def result_dirs(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def sorted_rows(res_dir):
    """(column names sorted, a DuckDB result of its rows sorted on them)."""
    src = f"read_parquet('{res_dir}/*.parquet')"
    con = duckdb.connect()
    cols = sorted(con.sql(f"SELECT * FROM {src} LIMIT 0").columns)
    sel = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    return cols, con.execute(f"SELECT {sel} FROM {src} ORDER BY ALL")


def first_difference(a, b):
    """(rows compared, None) when the streams are equal, else (index of
    the first differing row, why)."""
    n = 0
    while True:
        xs, ys = a.fetchmany(BATCH), b.fetchmany(BATCH)
        for x, y in zip(xs, ys):
            cx, cy = [canon(v) for v in x], [canon(v) for v in y]
            if cx != cy:
                return n, f"row {n}: {cx} vs {cy}"
            n += 1
        if len(xs) != len(ys):
            return n, f"one side ends at row {n + min(len(xs), len(ys))}"
        if not xs:
            return n, None


def main(argv):
    if len(argv) < 2 or any(a.startswith("-") for a in argv) \
            or not all(os.path.isdir(d) for d in argv[:2]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a_dir, b_dir, names = argv[0], argv[1], argv[2:]
    if not names:
        names = sorted(result_dirs(a_dir) | result_dirs(b_dir))
    differ = []
    for name in names:
        try:
            (ca, ra), (cb, rb) = (sorted_rows(os.path.join(d, name))
                                  for d in (a_dir, b_dir))
            n, why = first_difference(ra, rb) if ca == cb \
                else (0, f"columns {ca} vs {cb}")
        except Exception as e:
            n, why = 0, f"unreadable: {str(e).splitlines()[0]}"
        if why is None:
            print(f"SAME {name} ({n} rows)")
        else:
            print(f"DIFF {name}: {why}")
            differ.append(name)
    print(f"\n{len(names) - len(differ)} identical, {len(differ)} differ"
          + (": " + " ".join(differ) if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
