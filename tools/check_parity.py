"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB over the same
parquet tables, then compares: row count, column names, and values
(column-name-sorted, row-sorted, exact for ints/strings, tiny-epsilon report
for floats — the engine's determinism contract targets EXACT float equality,
so any nonzero float delta is flagged).

Usage: python tools/check_parity.py [--gate] [--json] [sf_dir] [query_name ...]

--gate: run exactly the driver's 50-query gate prefix (the first 50
        registered queries — the PRIORITY order in queries/catalog.py) and
        print a CORRECTNESS_r*.json-shaped JSON object at the end, so gate
        drift is caught before the driver runs.
--json: print the same JSON object for whatever subset ran.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_parent_spark.queries.catalog import all_oracles, all_queries  # noqa: E402
from flink_parent_spark.session import get_spark  # noqa: E402
from flink_parent_spark.tables import TABLE_NAMES, table_path  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{table_path(sf_dir, name)}'"
        )
    return con


def normalize(rows, cols):
    """Sort columns by name, then rows; stringify for stable compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(v)
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            elif isinstance(v, list):
                vals.append(tuple(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def compare(name, spark_df, duck_rel, counts=None) -> list[str]:
    issues = []
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols = list(duck_rel.columns)
    d_rows = duck_rel.fetchall()
    if counts is not None:
        counts["spark"], counts["oracle"] = len(s_rows), len(d_rows)
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        issues.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return issues
    if len(s_rows) != len(d_rows):
        issues.append(f"row count differs: spark={len(s_rows)} duck={len(d_rows)}")
    sc, sn = normalize(s_rows, [c.lower() for c in s_cols])
    dc, dn = normalize(d_rows, [c.lower() for c in d_cols])
    n_bad = 0
    max_float_delta = 0.0
    for i, (a, b) in enumerate(zip(sn, dn)):
        for j, (x, y) in enumerate(zip(a, b)):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    ok = x is None and y is None
                    delta = math.inf if not ok else 0.0
                else:
                    delta = abs(float(x) - float(y))
                    ok = delta == 0.0
                if not ok:
                    max_float_delta = max(max_float_delta, delta)
                    n_bad += 1
                    if n_bad <= 3:
                        issues.append(f"row {i} col {sc[j]}: spark={x!r} duck={y!r} d={delta}")
            elif x != y:
                n_bad += 1
                if n_bad <= 3:
                    issues.append(f"row {i} col {sc[j]}: spark={x!r} duck={y!r}")
    if n_bad > 3:
        issues.append(f"... {n_bad} mismatched cells total (max float delta {max_float_delta})")
    elif n_bad and max_float_delta:
        issues.append(f"(max float delta {max_float_delta})")
    return issues


GATE_SIZE = 50  # the driver checks the first 50 registered queries


def main():
    import json

    args = sys.argv[1:]
    gate = "--gate" in args
    as_json = "--json" in args or gate
    args = [a for a in args if a not in ("--gate", "--json")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    queries, oracles = all_queries(), all_oracles()
    if gate:
        names = list(queries)[:GATE_SIZE]
    else:
        names = sorted(queries)
    spark = get_spark("parity")
    con = duck_connect(sf_dir)
    n_pass = n_fail = n_noracle = 0
    report: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                cnt = df.count()
                n_noracle += 1
                rec.update(spark_rows=cnt, rows_match=True)
                report[name] = rec
                print(f"  [rows-only] {name}: {cnt} rows ({time.time()-t0:.1f}s)")
                continue
            counts: dict = {}
            issues = compare(name, df, con.sql(oracles[name]), counts)
            rec["spark_rows"] = counts.get("spark")
            rec["oracle_rows"] = counts.get("oracle")
        except Exception as e:
            issues = [f"EXCEPTION: {type(e).__name__}: {e}"]
            rec["err"] = f"{type(e).__name__}: {e}"
        dt = time.time() - t0
        if issues:
            n_fail += 1
            rec["err"] = rec["err"] or "; ".join(issues[:3])
            print(f"  [FAIL] {name} ({dt:.1f}s)")
            for msg in issues[:6]:
                print(f"         {msg}")
        else:
            n_pass += 1
            rec.update(rows_match=True, schema_match=True, hash_match=True)
            print(f"  [ok]   {name} ({dt:.1f}s)")
        report[name] = rec
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only @ {sf_dir}")
    if as_json:
        print(json.dumps(report))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
