"""Self-check harness mirroring the external driver's correctness gate.

For every suite query: run the Spark DataFrame AND the DuckDB oracle
on the same parquet tables, then compare row count, column names, and
an order-insensitive value hash (columns sorted by name, rows sorted
by their stringified tuple). Exits non-zero on any mismatch.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]
       python tools/check_oracle.py --both-scales --json-out ORACLE_SWEEP_rNN.json
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    """Normalize a cell for cross-engine comparison.

    Mirrors the external driver (VERDICT r1 §W1): no
    ``Decimal.normalize()`` smoothing — a Decimal reaching the final
    projection stringifies with its trailing zeros and can never match
    the driver's floated oracle cell, which is why the loop below
    HARD-FAILS on any DECIMAL/HUGEINT output column on either side
    instead of trying to coerce its way to a match. Note repr() keeps
    the -0.0/0.0 distinction, exactly like the driver — queries must
    normalize negative zero themselves (the ``+ 0.0`` convention).
    """
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def norm_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(_norm(r[i]) for i in order) for r in rows]


def frame_signature(columns: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    cols_sorted = sorted(columns)
    lines = sorted("\x1f".join(r) for r in norm_rows(columns, rows))
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(rows), cols_sorted, digest


RISKY_DUCK_TYPES = ("DECIMAL", "HUGEINT", "UHUGEINT")


def risky_spark_cols(sdf) -> list[str]:
    return [c for c, t in sdf.dtypes if t.startswith("decimal")]


def risky_duck_cols(con, sql: str) -> list[str]:
    """Columns whose DuckDB output type is DECIMAL/HUGEINT."""
    desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    return [c for c, t, *_ in desc if any(t.startswith(r) for r in RISKY_DUCK_TYPES)]


def check_one(spark, con, name: str, spec, sf_dir: str) -> dict:
    """Run one query on both engines at one scale; return a result row
    shaped like the external driver's CORRECTNESS entries."""
    res = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
        "detail": None,
    }
    try:
        sdf = spec.fn(spark, sf_dir)
        s_cols = sdf.columns
        s_risky = risky_spark_cols(sdf)
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        res["err"] = f"spark {type(e).__name__}: {str(e)[:300]}"
        return res
    res["spark_rows"] = len(s_rows)
    if s_risky:
        # driver-unsafe regardless of values — Spark Decimals keep
        # their trailing zeros while the driver floats the oracle's
        res["err"] = f"spark output has DECIMAL columns {s_risky}"
        return res
    try:
        d_risky = risky_duck_cols(con, spec.oracle)
        rel = con.execute(spec.oracle)
        d_cols = [d[0] for d in rel.description]
        d_rows = rel.fetchall()
    except Exception as e:
        res["err"] = f"duckdb {type(e).__name__}: {str(e)[:300]}"
        return res
    res["oracle_rows"] = len(d_rows)
    if d_risky:
        res["err"] = f"oracle output has DECIMAL/HUGEINT columns {d_risky}"
        return res
    sn, sc, sh = frame_signature(s_cols, s_rows)
    dn, dc, dh = frame_signature(d_cols, d_rows)
    res["rows_match"] = sn == dn
    res["schema_match"] = sc == dc
    res["hash_match"] = (sn, sc, sh) == (dn, dc, dh)
    if not res["hash_match"]:
        if sc != dc:
            res["detail"] = f"cols spark={sc} duckdb={dc}"
        elif sn != dn:
            res["detail"] = f"row counts differ: {sn} vs {dn}"
        else:
            s_set = set(norm_rows(s_cols, s_rows))
            d_set = set(norm_rows(d_cols, d_rows))
            res["detail"] = (
                f"only-spark sample: {list(s_set - d_set)[:3]}; "
                f"only-duckdb sample: {list(d_set - s_set)[:3]}"
            )
    return res


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument(
        "--both-scales",
        action="store_true",
        help="sweep every name at sf0.01 AND sf0.001 (VERDICT r6 item 6); "
        "--sf is ignored",
    )
    ap.add_argument(
        "--json-out",
        default=None,
        help="write the full per-query result map to this JSON file "
        "(e.g. ORACLE_SWEEP_r07.json)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from nhl_data_warehouse_spark.session import get_spark, release_cached
    from nhl_data_warehouse_spark.suite import REGISTRY

    spark = get_spark(app_name="check_oracle")
    sf_dirs = (
        ["/root/testdata/sf0.01", "/root/testdata/sf0.001"]
        if args.both_scales
        else [args.sf]
    )
    names = args.names or list(REGISTRY)
    sweep: dict[str, dict] = {}
    failures = []
    for sf_dir in sf_dirs:
        con = duck_connect(sf_dir)
        sf_key = os.path.basename(sf_dir.rstrip("/"))
        for name in names:
            # reclaim the previous query's persisted intermediates and
            # localCheckpoint blocks (LSH bands, capped shingles,
            # oriented edges, ...) — without this the 200+ collect()s
            # accumulate heap state and late queries slow down
            # several-fold, the exact long-running-driver failure
            # bench.py guards against
            release_cached(spark)
            t0 = time.time()
            res = check_one(spark, con, name, REGISTRY[name], sf_dir)
            dt = time.time() - t0
            sweep.setdefault(name, {})[sf_key] = res
            ok = res["hash_match"] and not res["err"]
            status = "ok" if ok else "FAIL"
            print(
                f"{status:5s} {name} @{sf_key}: spark {res['spark_rows']} rows, "
                f"duckdb {res['oracle_rows']} rows  [{dt:.1f}s]"
            )
            if not ok:
                failures.append(f"{name}@{sf_key}")
                print(f"      {res['err'] or res['detail']}")
        con.close()
    n_checks = len(names) * len(sf_dirs)
    print(f"\n{n_checks - len(failures)}/{n_checks} checks match")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(
                {
                    "scales": [os.path.basename(d.rstrip("/")) for d in sf_dirs],
                    "n_queries": len(names),
                    "n_checks": n_checks,
                    "n_failures": len(failures),
                    "failures": failures,
                    "results": sweep,
                },
                f,
                indent=1,
            )
            f.write("\n")
        print(f"wrote {args.json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
