#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Usage: python3 scripts/check_oracle.py <verify_out_dir> <sf_dir>

Reads each <verify_out_dir>/<query>/ parquet (Spark output) and runs the
matching SQL from oracle_sql.json in DuckDB with the testdata tables
registered as views. Compares: column names (sorted), row count, and
values (rows sorted by every column, NaN-aware).

The comparison runs inside DuckDB, column by column over the two sorted
row sets; no per-cell Python objects are built. Values are canonicalised
the way a pandas round trip would see them: NaN and NULL are one missing
value, DECIMAL and HUGEINT compare as DOUBLE, timestamps compare at
microsecond precision. Each query gets its own in-memory database, so
the memory a heavy oracle (the recursive-CTE ring replays) takes is
released before the next query runs, and each database is bounded:
DUCKDB_THREADS worker threads and a DUCKDB_MEMORY_LIMIT buffer pool that
spills to a temporary directory under <verify_out_dir>, removed at exit.
This script is verification tooling only — the library itself never
uses Python.
"""
import json, sys, glob, os, tempfile
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# DuckDB's default is every core and 80% of RAM. The limit counts
# allocated blocks, not touched pages: r51/r52 fail at 2 GB / 4 GB while
# their RSS stays under 1 GB, and r47 runs ~3.6 GB past a 4 GB limit in
# RSS, so it bounds the other queries, not the peak.
DUCKDB_THREADS = 2
DUCKDB_MEMORY_LIMIT = "8GB"


def canon(col: str, typ: str) -> str:
    """SQL expression for one column's comparable value."""
    c = f'"{col}"'
    t = typ.upper()
    if t in ("FLOAT", "DOUBLE"):
        return f"CASE WHEN isnan({c}) THEN NULL ELSE {c} END"
    if t.startswith("DECIMAL") or t in ("HUGEINT", "UHUGEINT"):
        return f"CAST({c} AS DOUBLE)"
    if t.startswith("TIMESTAMP"):
        return f"CAST({c} AS TIMESTAMP)"
    return c


def sorted_rows(con, rel: str, cols, types) -> str:
    """CREATE a temp table of `rel`'s canonical columns plus row number rn,
    numbered in the order of every column (sorted names), NULLs last."""
    sel = ", ".join(f'{canon(c, types[c])} AS "{c}"' for c in cols)
    order = ", ".join(f'"{c}" NULLS LAST' for c in cols)
    out = f"{rel}_s"
    con.execute(f"CREATE TEMP TABLE {out} AS SELECT row_number() OVER (ORDER BY {order}) AS rn, * "
                f"FROM (SELECT {sel} FROM {rel})")
    return out


def check(con, name: str, files, sql: str) -> bool:
    flist = ", ".join(f"'{f}'" for f in files)
    con.execute(f"CREATE TEMP TABLE got AS SELECT * FROM read_parquet([{flist}])")
    try:
        con.execute(f"CREATE TEMP TABLE want AS {sql}")
    except Exception as e:
        print(f"!! {name}: oracle SQL failed: {e}"); return False
    types = {}
    for rel in ("got", "want"):
        types[rel] = {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel}").fetchall()}
    gc, wc = sorted(types["got"]), sorted(types["want"])
    if gc != wc:
        print(f"!! {name}: columns differ spark={gc} duck={wc}"); return False
    ng = con.execute("SELECT count(*) FROM got").fetchone()[0]
    nw = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if ng != nw:
        print(f"!! {name}: rowcount spark={ng} duck={nw}"); return False
    g = sorted_rows(con, "got", gc, types["got"])
    w = sorted_rows(con, "want", wc, types["want"])
    for c in gc:
        try:
            bad, first = con.execute(
                f'SELECT count(*), min(g.rn) FROM {g} g JOIN {w} w USING (rn) '
                f'WHERE g."{c}" IS DISTINCT FROM w."{c}"').fetchone()
        except duckdb.Error as e:
            print(f"!! {name}: col {c} not comparable: {e}"); return False
        if bad:
            sv = con.execute(f'SELECT "{c}" FROM {g} WHERE rn = {first}').fetchone()[0]
            dv = con.execute(f'SELECT "{c}" FROM {w} WHERE rn = {first}').fetchone()[0]
            print(f"!! {name}: col {c} differs at {bad} rows; first row {first - 1}: "
                  f"spark={sv!r} duck={dv!r}")
            return False
    print(f"ok {name}: {ng} rows")
    return True


def connect(sfdir: str, tmp: str):
    """A fresh in-memory database with the testdata tables as views."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {DUCKDB_THREADS}")
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY_LIMIT}'")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    return con


def main(outdir, sfdir):
    with tempfile.TemporaryDirectory(prefix=".duckdb_tmp_", dir=outdir) as tmp:
        return run(outdir, sfdir, tmp)


def run(outdir, sfdir, tmp):
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    qdirs = sorted(d for d in glob.glob(os.path.join(outdir, "*")) if os.path.isdir(d))
    n_pass = n_fail = n_noracle = 0
    for qd in qdirs:
        name = os.path.basename(qd)
        files = sorted(glob.glob(os.path.join(qd, "*.parquet")))
        if not files:
            print(f"!! {name}: no spark output"); n_fail += 1; continue
        if name not in oracle:
            rows = duckdb.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
            print(f"-- {name}: no oracle (rows-only): {rows} rows")
            n_noracle += 1
            continue
        con = connect(sfdir, tmp)
        try:
            ok = check(con, name, files, oracle[name])
        finally:
            con.close()
        if ok: n_pass += 1
        else: n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
