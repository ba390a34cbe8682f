#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (dev tool, not library
code — mirrors what the driver does with Verify output + DuckDB).

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
    python3 tools/check_oracle.py <sfDir> <outDir>

Registers each parquet test table as a DuckDB view, runs every oracle SQL
from <outDir>/oracle_sql.json, loads the corresponding Spark parquet result,
sorts columns by name, and value-compares cell by cell (exact; floats must
match bitwise after each engine's own rounding discipline).
"""
import json, sys, math, glob, struct
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # bit-exact like the driver's hash: -0.0 != +0.0 (Python == treats
        # them equal, which masked a real driver hash mismatch in round 3)
        return struct.pack("<d", v)
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    import os
    # DUCKDB_THREADS / DUCKDB_MEMORY: cap per-process parallelism and
    # memory so several key-chunk checkers can run side by side at big
    # SFs (sf~1 gate). Without the memory cap each process assumes 80%
    # of system RAM — 8 concurrent dedup-family oracles at sf~1 measured
    # 17-19 GB RSS each and were headed for the OOM killer.
    if os.environ.get("DUCKDB_THREADS"):
        con.sql(f"SET threads TO {int(os.environ['DUCKDB_THREADS'])}")
    if os.environ.get("DUCKDB_MEMORY"):
        con.sql(f"SET memory_limit = '{os.environ['DUCKDB_MEMORY']}'")
        # a memory cap forces spills, and DuckDB's default temp dir is the
        # RELATIVE '.tmp' — concurrent checkers in one cwd then delete
        # each other's blocks (seen: dedup_canonical 'Cannot open file
        # .tmp/duckdb_temp_block-…'). Give each process its own dir.
        tmp = f"/tmp/duckspill_{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        con.sql(f"SET temp_directory = '{tmp}'")
        # spill dirs otherwise accumulate in /tmp across capped gate runs
        import atexit, shutil
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    for t in TABLES:
        # driver testdata ships single parquet FILES; builder-inflated
        # stores (graft.Inflate -> /tmp/sf1) are Spark-written DIRECTORIES
        # of part files — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    if only:  # dev iteration: check only these comma-separated keys
        # a name with neither an oracle nor a dump is a typo, not a pass
        for k in only.split(","):
            if k not in oracle and not os.path.isdir(f"{out_dir}/{k}"):
                print(f"FAIL {k}: unknown key")
                n_fail += 1
        oracle = {k: v for k, v in oracle.items() if k in only.split(",")}
    no_oracle = []
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            duck = con.sql(sql)
            dcols = [c.lower() for c in duck.columns]
            drows = duck.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        scols = [c.lower() for c in spark_rel.columns]
        srows = spark_rel.fetchall()
        # type parity: a HUGEINT/TINYINT on the duck side (or int8 on the
        # spark side) means the engines disagree on the column's shape even
        # when values compare equal — flag it before the driver might
        stypes = {c.lower(): str(t) for c, t in zip(spark_rel.columns, spark_rel.types)}
        dtypes = {c.lower(): str(t) for c, t in zip(duck.columns, duck.types)}
        for c, t in dtypes.items():
            if t in ("HUGEINT", "TINYINT", "SMALLINT") or \
               (c in stypes and t != stypes[c] and
                    not (t.startswith("DECIMAL") and stypes[c].startswith("DECIMAL"))):
                print(f"WARN {name}: column '{c}' type {t} (duck) vs {stypes.get(c)} (spark)")
        if sorted(dcols) != sorted(scols):
            print(f"FAIL {name}: columns differ duck={sorted(dcols)} spark={sorted(scols)}")
            n_fail += 1
            continue
        dperm = sorted(range(len(dcols)), key=lambda i: dcols[i])
        sperm = sorted(range(len(scols)), key=lambda i: scols[i])
        dr = [tuple(canon(r[i]) for i in dperm) for r in drows]
        sr = [tuple(canon(r[i]) for i in sperm) for r in srows]
        if len(dr) != len(sr):
            print(f"FAIL {name}: row count duck={len(dr)} spark={len(sr)}")
            n_fail += 1
            continue
        if dr == sr:
            print(f"PASS {name} ({len(dr)} rows)")
            n_pass += 1
        elif sorted(map(repr, dr)) == sorted(map(repr, sr)):
            print(f"WARN {name}: rows equal as a SET but order differs (driver may still fail)")
            n_fail += 1
        else:
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(dr, sr)) if a != b][:3]
            print(f"FAIL {name}: {sum(1 for a,b in zip(dr,sr) if a!=b)} mismatched rows; first: ")
            for i, a, b in bad:
                print(f"   row {i}: duck={a}")
                print(f"   row {i}: sprk={b}")
            n_fail += 1
    # queries with spark output but no oracle entry
    import os
    for d in sorted(os.listdir(out_dir)):
        if only and d not in only.split(","):
            continue
        if os.path.isdir(f"{out_dir}/{d}") and d not in oracle:
            n = con.sql(f"SELECT count(*) FROM '{out_dir}/{d}/*.parquet'").fetchone()[0]
            no_oracle.append(f"{d}({n} rows)")
    if no_oracle:
        print("NO-ORACLE (rows-only):", ", ".join(no_oracle))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
