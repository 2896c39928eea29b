#!/usr/bin/env python
"""Driver-mirror correctness over the ENTIRE query registry (the driver's own
run evaluates only the first ~50 registered entries; this produces the same
per-query record for all of them, so the overflow pack is auditable).

Writes CORRECTNESS_FULL.json: {name: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}} — same shape as the driver's CORRECTNESS_r*.json.
Oracle-less queries get the rows-only record (err: "no_oracle").

Usage: python full_correctness.py [out.json [query ...]]   (sf dir from
SPARK_GRAFT_TEST_SF_DIR, default /root/testdata/sf0.01)

With query names after the output path, only those queries are checked, in
registry order, with the same record shape; an unknown name is an error.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import traceback


def _canonical_hash(df) -> str:
    """Order-insensitive value hash: sort columns by name, stringify, sort
    rows, md5 — mirrors the driver's compare contract."""
    import pandas as pd  # noqa: F401

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            # pin float formatting so 1.0 and 1 never diverge textually
            df[c] = df[c].map(lambda v: repr(float(v)))
    rows = sorted(tuple(map(str, r)) for r in df.itertuples(index=False))
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "CORRECTNESS_FULL.json"
    only = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    os.environ["SPARK_GRAFT_TEST_SF_DIR"] = sf_dir  # oracle paths resolve same

    import duckdb

    import __spark_entry__ as entry_mod
    from datafusion_dedup_ai_spark.session import build_session
    from datafusion_dedup_ai_spark.sources.readers import TESTDATA_TABLES

    qs = entry_mod.queries()
    unknown = sorted(set(only) - set(qs))
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    if only:
        qs = {name: fn for name, fn in qs.items() if name in only}

    spark = build_session(app_name="full-correctness")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # resolve the oracle dict ONCE: resolution is not free (callable oracles
    # materialize their parquet fixtures on first touch)
    oracles = entry_mod.oracle_sql()
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = fn(spark, sf_dir).toPandas()
            rec["spark_rows"] = len(sdf)
            oracle = oracles.get(name)
            if oracle is None:
                rec["err"] = "no_oracle"
            else:
                odf = con.execute(oracle).df()
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                rec["hash_match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and _canonical_hash(sdf) == _canonical_hash(odf)
                )
        except Exception:
            rec["err"] = traceback.format_exc()[-1500:]
        results[name] = rec
        status = (
            "hash-green"
            if rec["hash_match"]
            else ("rows-only" if rec["err"] == "no_oracle" else "RED")
        )
        print(f"  {name}: {status} ({rec['spark_rows']} rows)", file=sys.stderr)

    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    n = len(results)
    green = sum(1 for r in results.values() if r["hash_match"])
    rows_only = sum(1 for r in results.values() if r["err"] == "no_oracle")
    red = n - green - rows_only
    print(
        json.dumps(
            {"total": n, "hash_green": green, "rows_only": rows_only, "red": red,
             "sf_dir": sf_dir, "out": out_path}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
