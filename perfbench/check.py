"""Output check of the repo benchmark.

Each workload query's result, written by the harness the way `graft.Verify`
writes it, is compared with DuckDB running `SparkEntry.oracleSql(name)`
over the same fixture parquet. Normalisation and the resource-bounded
oracle hooks are `tools/selfcheck.py`'s own, imported, not copied. A query
without an oracle must instead give equal digests on two executions.
"""
import hashlib
import json
import sys

import duckdb
import pyarrow.dataset as ds

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def load_selfcheck(root):
    sys.path.insert(0, str(root / "tools"))
    try:
        import selfcheck
    finally:
        sys.path.pop(0)
    return selfcheck


def digest(sc, tbl, cols):
    h = hashlib.sha256()
    for row in sc.table_rows(tbl, cols):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest()


def oracle_answer(sc, fixture, name, sql, tmp):
    """(sorted column names, digest) of the DuckDB oracle for `name`."""
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB",
                                 "temp_directory": str(tmp)})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{fixture}/{t}.parquet')")
        if name in sc.ITERATIVE:
            tbl = sc.ITERATIVE[name](con)
        elif name in sc.CC_ITERATIVE:
            tbl = sc.cc_iterative(con, sql)
        else:
            tbl = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    cols = sorted(tbl.column_names)
    return cols, digest(sc, tbl, cols)


def spark_answer(sc, check_dir, out):
    tbl = ds.dataset(str(check_dir / out)).to_table()
    cols = sorted(tbl.column_names)
    return cols, digest(sc, tbl, cols), tbl.num_rows


def check(root, fixture, check_dir, names, harness_errors, tmp):
    """Return {name: reason} for every query whose output is wrong or missing."""
    sc = load_selfcheck(root)
    oracle = json.loads((check_dir / "oracle_sql.json").read_text())
    failures = {}
    for name in names:
        errs = [e for out, e in harness_errors.items()
                if e and out in (name, f"{name}.rerun")]
        if errs:
            failures[name] = f"threw: {errs[0]}"
            continue
        try:
            cols, got, rows = spark_answer(sc, check_dir, name)
            if name in oracle:
                want_cols, want = oracle_answer(sc, fixture, name, oracle[name], tmp)
                if cols != want_cols:
                    failures[name] = f"schema spark={cols} duck={want_cols}"
                elif got != want:
                    failures[name] = f"rows differ from the DuckDB oracle ({rows} spark rows)"
            else:
                cols2, again, _ = spark_answer(sc, check_dir, f"{name}.rerun")
                if (cols, got) != (cols2, again):
                    failures[name] = "no oracle, and two executions differ"
        except Exception as e:  # a missing or unreadable output is a failure
            failures[name] = f"check error: {type(e).__name__}: {e}"
    return failures
