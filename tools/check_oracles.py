"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count, column names, and an order-insensitive
value hash. A query where both engines return 0 rows is a FAIL.

Usage: python tools/check_oracles.py [sf_dir] [only_query]
Queries run ORACLE_JOBS at a time (default 4) — Spark's scheduler
interleaves concurrent actions from multiple driver threads, and each
thread gets its own DuckDB cursor; set ORACLE_JOBS=1 for the
sequential behavior."""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(row[i]) for i in order) for row in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _canon(v):
    # bool before float/int: isinstance(np.bool_, np.integer) is False
    # but plain bool IS int, and both must canonicalize the same way.
    import numpy as np
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:  # NaN — pandas' spelling of NULL in float columns
            return "NULL"
        return repr(round(f, 9))
    if isinstance(v, np.integer):
        return str(int(v))
    import datetime
    if isinstance(v, datetime.datetime):  # incl. pd.Timestamp / NaT
        if v != v:
            return "NULL"
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        # DuckDB DATE surfaces as datetime64 midnight through fetchdf
        # while Spark's DateType stays datetime.date — the driver
        # treats the two as equal (r4: events_pivot/rollup/retention
        # green), so canonicalize DATE to its midnight timestamp
        return v.isoformat() + " 00:00:00"
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else None

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    def check_one(name, fn):
        lines = []
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # the driver's canonicalizer sorts/hashes cell VALUES, so
            # any non-atomic column (array/map/struct) makes its row
            # red with "unhashable type" even when values match — the
            # r3 chunk_documents_hier failure mode. Gate it here.
            complex_cols = [
                f.name for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")]
            if complex_cols:
                return 1, [f"FAIL {name}: non-scalar output columns "
                           f"{complex_cols} (driver canonicalizer "
                           "cannot hash them)"]
            # boolean outputs are the r4 `eligible` failure class:
            # Spark emits True/False, DuckDB-via-pandas emits
            # bool/object/float depending on the expression, and the
            # driver hashes the representations differently. Registry
            # queries must cast flags to int on both sides.
            bool_cols = [f.name for f in sdf.schema.fields
                         if f.dataType.typeName() == "boolean"]
            if bool_cols:
                return 1, [f"FAIL {name}: boolean output columns "
                           f"{bool_cols} (cast flags to int on both "
                           "engine sides — driver canonicalizers "
                           "diverge on bool)"]
            # toPandas, NOT collect: the driver canonicalizes BOTH
            # engines' results through pandas dtypes. collect() yields
            # Python ints where pandas yields float64 (any nullable
            # int column), so a collect-based Spark side would flag
            # false mismatches against the fetchdf DuckDB side on
            # queries the driver actually passes (e.g. the NULL-bearing
            # asof-join columns), while masking none.
            srows = list(sdf.toPandas().itertuples(index=False,
                                                   name=None))
        except Exception as e:
            return 1, [f"FAIL {name}: spark error "
                       f"{type(e).__name__}: {e}"]
        if name not in oracles:
            return 0, [f"rows-only {name}: {len(srows)} rows (no oracle)"]
        try:
            cur = con.cursor()
            cur.execute(oracles[name])
            # fetchdf, NOT fetchall: the driver canonicalizes DuckDB
            # results through pandas, where HUGEINT (e.g. any window
            # SUM over BIGINT) surfaces as float64 — fetchall's Python
            # ints masked exactly the r4 `compaction_plan` failure.
            # Going through the same dtype path keeps this gate
            # strictly at-least-as-harsh as the driver's.
            odf = cur.fetchdf()
            ocols = list(odf.columns)
            orows = list(odf.itertuples(index=False, name=None))
        except Exception as e:
            return 1, [f"FAIL {name}: duckdb error "
                       f"{type(e).__name__}: {e}"]
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={scols} oracle={ocols}")
        if not srows and not orows:
            # two empty results hash equal and prove nothing
            problems.append("both engines returned 0 rows")
        if not problems:
            hs = value_hash(srows, scols)
            ho = value_hash(orows, ocols)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show first differing canonical line
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x1f".join(_canon(r[i]) for i in order_s)
                            for r in srows)
                lo = sorted("\x1f".join(_canon(r[i]) for i in order_o)
                            for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f" spark : {a[:200]}")
                        problems.append(f" oracle: {b[:200]}")
                        break
        if problems:
            lines.append(f"FAIL {name}: " + "; ".join(problems[:1]))
            lines.extend("   " + p for p in problems[1:])
            return 1, lines
        return 0, [f"OK   {name}: {len(srows)} rows"]

    todo = [(n, f) for n, f in qs.items() if not only or n == only]
    jobs = int(os.environ.get("ORACLE_JOBS", "4"))
    failures = 0
    results = {}

    def record(name, bad, lines):
        results[name] = {"ok": not bad, "detail": lines[0]}

    if jobs <= 1:
        for n, f in todo:
            bad, lines = check_one(n, f)
            failures += bad
            record(n, bad, lines)
            print("\n".join(lines))
    else:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=jobs) as ex:
            for (n, _), (bad, lines) in zip(
                    todo, ex.map(lambda t: check_one(*t), todo)):
                failures += bad
                record(n, bad, lines)
                print("\n".join(lines))
    out_path = os.environ.get("ORACLE_SWEEP_OUT")
    if out_path:
        import json
        with open(out_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "n_queries": len(todo),
                       "n_failures": failures, "results": results},
                      fh, indent=1, sort_keys=True)
        print(f"wrote {out_path}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
