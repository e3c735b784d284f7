"""Compares the query outputs of two `graft.Verify` runs, value for value.

    python3 tools/compare_outputs.py <dirA> <dirB>

Every query dir either out dir holds (one per query, as Verify writes them)
is read whole on both sides; the rows are compared as sorted multisets,
with columns ordered by name and values normalised as tools/oracle_check.py
normalises them. Prints the diff count per query (rows present on one side
and not the other, plus 1 for a column-name or column-type difference) and
the total. Exits non-zero on any diff, or on a query missing or unreadable
on either side.

The determinism probe runs Verify at two core counts, one after the other,
into separate out dirs and compares them:

    SPARK_GRAFT_CPUS=4  sbt -batch "runMain graft.Verify <sf dir> <dirA>"
    SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify <sf dir> <dirB>"
    python3 tools/compare_outputs.py <dirA> <dirB>
"""
import collections
import glob
import os
import sys

import duckdb

from oracle_check import fetch, norm


def query_dirs(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def read(con, root, name):
    if not glob.glob(os.path.join(root, name, '*.parquet')):
        raise ValueError(f'no parquet file in {root}/{name}')
    return fetch(con.sql(f"SELECT * FROM '{root}/{name}/*.parquet'"))


def rows_by_name(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return collections.Counter(tuple(norm(r[i]) for i in order) for r in rows)


def diff_count(a, b):
    (acols, arows, atypes), (bcols, brows, btypes) = a, b
    schema = int(sorted(acols) != sorted(bcols) or atypes != btypes)
    ra, rb = rows_by_name(acols, arows), rows_by_name(bcols, brows)
    return schema + sum((ra - rb).values()) + sum((rb - ra).values())


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    a, b = argv[1], argv[2]
    con = duckdb.connect()
    qa, qb = query_dirs(a), query_dirs(b)
    failed = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f'MISSING {name}: only in {a if name in qa else b}')
            failed += 1
            continue
        try:
            n = diff_count(read(con, a, name), read(con, b, name))
        except Exception as e:
            print(f'ERR  {name}: {str(e)[:200]}')
            failed += 1
            continue
        print(f'{"OK  " if n == 0 else "DIFF"} {name}: {n} diffs')
        failed += n > 0
    print(f'QUERIES: {len(qa | qb)} FAILED: {failed}')
    return 1 if failed else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
