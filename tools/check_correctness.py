"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value hash.
Strictly exact on values (no float tolerance) — if this passes, the
driver's hash compare passes.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers the JVM starts inherit this environment, so they
# import fuel_spark from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def driver_canon_ok(pdf) -> bool:
    """Replicate the driver's list-intolerant canonicalization: pandas
    sort_values over every column raises TypeError on list/ndarray
    cells.  If this returns False the driver's gate would ERR even if
    our stringified hash matches — treat as a failure locally."""
    try:
        pdf.sort_values(by=sorted(pdf.columns))
        return True
    except Exception:
        return False


def frame_hash(pdf) -> tuple[int, tuple, str]:
    import numpy as np

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for row in pdf.itertuples(index=False, name=None):
        rows.append("|".join(canon_cell(
            list(v) if isinstance(v, np.ndarray) else v
        ) for v in row))
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), tuple(cols), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from fuel_spark.session import get_spark

    spark = get_spark("correctness", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    fails, passes, nosql = [], [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            why = str(e) or type(e).__name__
            fails.append((name, f"SPARK ERROR: {why}"))
            print(f"FAIL {name}: spark error {why[:300]}")
            continue
        if name not in oracles:
            nosql.append(name)
            print(f"rows-only {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            why = str(e) or type(e).__name__
            fails.append((name, f"ORACLE ERROR: {why}"))
            print(f"FAIL {name}: oracle error {why[:300]}")
            continue
        if not driver_canon_ok(sdf) or not driver_canon_ok(odf):
            fails.append((name, "driver canonicalizer cannot sort cells"))
            print(
                f"FAIL {name}: unsortable cells (array column?) — the"
                f" driver gate would ERR; serialize arrays to strings"
            )
            continue
        sn, sc, sh = frame_hash(sdf)
        on, oc, oh = frame_hash(odf)
        sdt = {c: str(sdf[c].dtype) for c in sdf.columns}
        odt = {c: str(odf[c].dtype) for c in odf.columns}
        dtdiff = {c: (sdt.get(c), odt.get(c)) for c in set(sdt) | set(odt)
                  if sdt.get(c) != odt.get(c)}
        if dtdiff:
            print(f"  dtypes {name}: {dtdiff}")
        if sc != oc:
            fails.append((name, f"schema {sc} vs {oc}"))
            print(f"FAIL {name}: columns {sc} != {oc}")
        elif sn != on:
            fails.append((name, f"rows {sn} vs {on}"))
            print(f"FAIL {name}: rowcount {sn} != {on}")
        elif sh != oh:
            fails.append((name, "value hash mismatch"))
            print(f"FAIL {name}: hash {sh} != {oh} ({sn} rows)")
        else:
            passes.append(name)
            print(f"PASS {name}: {sn} rows hash={sh}")
    print(
        f"\n{len(passes)} passed, {len(fails)} failed, {len(nosql)} rows-only"
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
