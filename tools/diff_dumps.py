#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps key by key (dev tool).

Usage:
    python3 tools/diff_dumps.py <parentDump> <changeDump> [key1,key2,...]

For every key (the given subset, else every key dumped on either side):
  - a dump must exist on both sides;
  - the parquet schemas must be identical: column names, types and
    nullability, nested fields included;
  - EXCEPT ALL must be empty both ways. DuckDB compares doubles by value
    (-0.0 = +0.0), so each top-level FLOAT/DOUBLE column also contributes
    its signbit() to the compared rows.
It also checks that the two `oracle_sql.json` files parse to equal dicts.
Prints one line per difference and a summary; exits 1 on any difference.
"""
import json, os, sys
import duckdb
import pyarrow.parquet as pq


def dumped_keys(d):
    return {k for k in os.listdir(d) if os.path.isdir(os.path.join(d, k))}


def schema_of(path):
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not files:
        return None
    sch = pq.read_schema(os.path.join(path, files[0]))
    return [(f.name, str(f.type), f.nullable) for f in sch]


def compare_key(con, a, b, schema):
    cols = []
    for name, typ, _ in schema:
        q = '"' + name.replace('"', '""') + '"'
        cols.append(q)
        if typ in ("double", "float"):
            cols.append(f"signbit({q})")
    proj = ", ".join(cols)
    src = "read_parquet('{}/*.parquet')"

    def count(x, y):
        return con.sql(
            f"SELECT count(*) FROM (SELECT {proj} FROM {src.format(x)} "
            f"EXCEPT ALL SELECT {proj} FROM {src.format(y)})").fetchone()[0]

    return count(a, b), count(b, a)


def main(parent, change, only=None):
    diffs = []
    pk, ck = dumped_keys(parent), dumped_keys(change)
    keys = sorted(only if only else pk | ck)
    con = duckdb.connect()
    for k in keys:
        a, b = os.path.join(parent, k), os.path.join(change, k)
        missing = [s for s, p in (("parent", a), ("change", b))
                   if not os.path.isdir(p)]
        if missing:
            diffs.append(f"{k}: no dump in {' and '.join(missing)}")
            continue
        sa, sb = schema_of(a), schema_of(b)
        if sa is None or sb is None:
            diffs.append(f"{k}: no parquet file in "
                         f"{'parent' if sa is None else 'change'}")
            continue
        if sa != sb:
            diffs.append(f"{k}: schema differs\n  parent {sa}\n  change {sb}")
            continue
        only_a, only_b = compare_key(con, a, b, sa)
        if only_a or only_b:
            diffs.append(f"{k}: {only_a} rows only in parent, "
                         f"{only_b} only in change")
    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (parent, change))
    if not (os.path.exists(oa) and os.path.exists(ob)):
        diffs.append("oracle_sql.json: missing on one side")
    elif json.load(open(oa)) != json.load(open(ob)):
        ja, jb = json.load(open(oa)), json.load(open(ob))
        changed = sorted(k for k in ja.keys() | jb.keys()
                         if ja.get(k) != jb.get(k))
        diffs.append(f"oracle_sql.json: {len(changed)} entries differ: "
                     f"{', '.join(changed[:10])}")
    for d in diffs:
        print("DIFF " + d)
    print(f"{len(keys)} keys compared, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    subset = sys.argv[3].split(",") if len(sys.argv) == 4 else None
    sys.exit(main(sys.argv[1], sys.argv[2], subset))
