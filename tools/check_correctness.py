"""Oracle correctness sweep.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares (``compare`` — the same
check tier-1 runs over every query at sf0.001 in tests/test_entry.py):

- row count
- column-name set
- result TYPES (Spark ``df.dtypes`` vs DuckDB ``DESCRIBE``, canonically
  mapped — catches HUGEINT-vs-BIGINT drift that a typed hash of the
  results fails on even when values are identical)
- order-insensitive values (columns sorted by name, rows sorted; floats
  compared both exactly and with 1e-9 relative tolerance so we can see
  whether a mismatch is real or summation-order ulps)

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (column names, canonical type per column, rows)
Result = tuple[list[str], dict[str, str], list[tuple]]


def canon_duck(t: str) -> str:
    """DuckDB type string -> canonical (matching Spark simpleString)."""
    t = t.strip()
    m = re.match(r"^(.*)\[\]$", t)
    if m:
        return f"array<{canon_duck(m.group(1))}>"
    u = t.upper()
    if u.startswith("DECIMAL"):
        return u.replace("DECIMAL", "decimal").replace(" ", "")
    mapping = {
        "BIGINT": "bigint",
        "INTEGER": "int",
        "SMALLINT": "smallint",
        "TINYINT": "tinyint",
        "HUGEINT": "decimal(38,0)",  # Arrow decimal128(38,0)
        "UBIGINT": "uint64",
        "DOUBLE": "double",
        "FLOAT": "float",
        "REAL": "float",
        "VARCHAR": "string",
        "DATE": "date",
        "TIMESTAMP": "timestamp",
        "TIMESTAMP WITH TIME ZONE": "timestamp",
        "BOOLEAN": "boolean",
        "BLOB": "binary",
    }
    return mapping.get(u, u.lower())


def canon_spark(t: str) -> str:
    t = t.replace(" ", "")
    # CORRECTNESS_r01 showed timestamp_ntz hashes identically to DuckDB
    # TIMESTAMP (q07/q08/q16/q17 were green), so the ntz distinction is
    # not a drift.
    if t == "timestamp_ntz":
        return "timestamp"
    return t


def _row_sort_key(t: tuple):
    """Order-insensitive alignment key: non-float columns lead (as
    strings), float columns trail (numerically, NaNs last). Floats
    must NOT participate in the primary key — two rows identical in
    every label column but with ulp-level float noise would otherwise
    sort-swap between engines and misalign the comparison (seen on
    q23 at 10x: two windows with equal sums in DuckDB, one an ulp off
    in Spark, flagged the TIMESTAMP column as a 4-value mismatch)."""
    labels = tuple(str(x) for x in t if not isinstance(x, float))
    floats = tuple(
        (x != x, 0.0 if x != x else x) for x in t if isinstance(x, float)
    )
    return labels, floats


def normalize(rows: list[tuple], cols: list[str]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=_row_sort_key), [cols[i] for i in order]


def values_equal(a, b) -> tuple[bool, bool]:
    """(exact, approx) equality."""
    if a is None or b is None:
        eq = a is None and b is None
        return eq, eq
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False, False
        if math.isnan(fa) and math.isnan(fb):
            return True, True
        exact = fa == fb
        approx = exact or math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
        return exact, approx
    eq = a == b
    return eq, eq


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from kaggle_data_pipeline_with_aws_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duck_connect(sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            s_res = spark_result(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        try:
            d_res = duck_result(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok, notes = compare(s_res, d_res)
        status = "OK   " if ok else "FAIL "
        print(f"{status}{name}: {len(s_res[2])} rows ({time.time()-t0:.1f}s) {'; '.join(notes)}")
        if not ok:
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


def duck_connect(sf_dir: str):
    """A DuckDB connection with one view per engine table of ``sf_dir``."""
    import duckdb

    from kaggle_data_pipeline_with_aws_spark.sources.readers import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark directory-per-table layout
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def duck_result(con, sql: str) -> Result:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    return cols, {r[0]: canon_duck(r[1]) for r in desc}, rows


def spark_result(sdf) -> Result:
    rows = [tuple(r) for r in sdf.collect()]
    return sdf.columns, {c: canon_spark(t) for c, t in sdf.dtypes}, rows


def compare(spark_res: Result, duck_res: Result) -> tuple[bool, list[str]]:
    """(ok, notes): column set, canonical types, row count, then values
    order-insensitively within 1e-9. Ulp-level float differences inside
    the tolerance stay ok and leave a WARN note."""
    s_cols, s_types, s_rows = spark_res
    d_cols, d_types, d_rows = duck_res
    ok = True
    notes = []
    if sorted(s_cols) != sorted(d_cols):
        ok = False
        notes.append(f"schema spark={sorted(s_cols)} duck={sorted(d_cols)}")
    else:
        tdiffs = [
            f"{c}: spark={s_types[c]} duck={d_types[c]}"
            for c in sorted(s_types)
            if s_types[c] != d_types.get(c)
        ]
        if tdiffs:
            ok = False
            notes.append("types " + "; ".join(tdiffs))
    if len(s_rows) != len(d_rows):
        ok = False
        notes.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if ok:
        sn, _ = normalize(s_rows, s_cols)
        dn, _ = normalize(d_rows, d_cols)
        n_exact_bad = n_approx_bad = 0
        first_bad = None
        for sr, dr in zip(sn, dn):
            for sv, dv in zip(sr, dr):
                exact, approx = values_equal(sv, dv)
                if not exact:
                    n_exact_bad += 1
                    if first_bad is None:
                        first_bad = (sv, dv)
                if not approx:
                    n_approx_bad += 1
        if n_approx_bad:
            ok = False
            notes.append(
                f"{n_approx_bad} values differ beyond tolerance, first={first_bad}"
            )
        elif n_exact_bad:
            notes.append(
                f"WARN {n_exact_bad} float ulp-level diffs (first={first_bad})"
            )
    return ok, notes


if __name__ == "__main__":
    raise SystemExit(main())
