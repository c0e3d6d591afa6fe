"""Local replica of the driver's correctness gate.

Runs every registered query on Spark at the given sf_dir, runs its
DuckDB oracle on the same parquet files, and compares row count,
schema, and an order-insensitive value hash. Stricter than the driver
can possibly be: values are compared via exact canonical string forms
(floats by repr → bit-exact), so a PASS here should imply a PASS in
CORRECTNESS_r{N}.json.

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Set ``CHECK_JSON_OUT=/path/file.json`` to additionally write the
per-query results as a CORRECTNESS_r{N}.json-shaped record (round 13:
the committed sf0.1 replay artifact, VERDICT r11 item 6)."""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fabric_claims_spark.queries import load_all_queries  # noqa: E402
from fabric_claims_spark.schemas import TESTDATA_TABLES  # noqa: E402
from fabric_claims_spark.session import get_spark  # noqa: E402


def canonical(df: pd.DataFrame) -> tuple[str, int, list[str]]:
    df = df.reindex(sorted(df.columns), axis=1)
    cols = list(df.columns)

    def cell(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
            return "␀"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        if isinstance(v, datetime.date):
            # dates and midnight timestamps canonicalize identically
            return v.isoformat() + "T00:00:00"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return h, len(rows), cols


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    registry = load_all_queries()
    spark = get_spark("correctness-check")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    record: dict[str, dict] = {}
    for name, spec in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            failures.append(name)
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"spark: {exc}"}
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            record[name] = {"rows_only": True, "spark_rows": len(spdf),
                            "err": None}
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"duckdb: {exc}"}
            continue
        sh, sn, scols = canonical(spdf)
        oh, on, ocols = canonical(odf)
        stypes = dict(sdf.dtypes)
        status = "PASS" if (sh == oh and sn == on and scols == ocols) else "FAIL"
        print(f"{status}  {name}: spark {sn} rows h={sh} | oracle {on} rows h={oh} [{time.time()-t0:.1f}s]")
        record[name] = {
            "rows_match": sn == on,
            "schema_match": scols == ocols,
            "hash_match": sh == oh,
            "spark_rows": sn,
            "oracle_rows": on,
            "err": None,
        }
        if status == "FAIL":
            failures.append(name)
            if scols != ocols:
                print(f"      cols spark={scols} oracle={ocols}")
            print(f"      spark dtypes={stypes}")
            merged = spdf.reindex(sorted(spdf.columns), axis=1)
            omerged = odf.reindex(sorted(odf.columns), axis=1)
            print("      spark head:\n", merged.sort_values(by=list(merged.columns)).head(3))
            print("      oracle head:\n", omerged.sort_values(by=list(omerged.columns)).head(3))
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    out = os.environ.get("CHECK_JSON_OUT")
    if out:
        with open(out, "w") as fh:
            json.dump(record, fh, indent=1)
        print(f"wrote {out} ({len(record)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
