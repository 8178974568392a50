#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps and run every changed oracle.

Usage: oracle_diff.py <sfDir> <old oracle_sql.json> <new oracle_sql.json>

Both files come from a graft.Verify run, one per commit (the oracle text
does not depend on the scale factor). Lists the keys added or removed and
the keys whose whitespace-normalized text changed, then runs each changed
pair in DuckDB over <sfDir> and compares the two results the way
compare.py does: columns sorted by name, same dtypes, same row count, and
every row equal under compare.canon. Exits non-zero on any difference.
"""
import json
import re
import sys

import duckdb

from compare import TABLES, canon


def normalize(sql):
    """Whitespace runs become one space, and none is kept next to a
    bracket or a comma."""
    return re.sub(r"\s*([()\[\],])\s*", r"\1", re.sub(r"\s+", " ", sql).strip())


def rows(con, sql):
    df = con.sql(sql).df()
    df = df[sorted(df.columns)]
    return (list(df.columns), list(df.dtypes.astype(str)),
            [[canon(x) for x in r] for r in df.values.tolist()])


def main(sf_dir, old_path, new_path):
    old, new = json.load(open(old_path)), json.load(open(new_path))
    bad = 0
    for k in sorted(old.keys() - new.keys()):
        print(f"REMOVED {k}")
        bad += 1
    for k in sorted(new.keys() - old.keys()):
        print(f"ADDED {k}")
        bad += 1
    changed = sorted(k for k in old.keys() & new.keys()
                     if normalize(old[k]) != normalize(new[k]))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for k in changed:
        try:
            a, b = rows(con, old[k]), rows(con, new[k])
        except Exception as e:
            print(f"DIFF {k}: run error: {str(e).splitlines()[0][:200]}")
            bad += 1
            continue
        if a == b:
            print(f"SAME {k} ({len(a[2])} rows)")
        else:
            what = ("columns" if a[0] != b[0] else "dtypes" if a[1] != b[1]
                    else f"rows {len(a[2])} vs {len(b[2])}" if len(a[2]) != len(b[2])
                    else "values")
            print(f"DIFF {k}: {what}")
            bad += 1
    print(f"{len(old.keys() & new.keys())} common keys, {len(changed)} changed, "
          f"{bad} differences")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
