"""Dump .explain("formatted") for bench headliners (or named queries).

Usage: python tools/explain_dump.py OUTDIR [suffix] [query ...]

Writes OUTDIR/<query>_<suffix>.txt (suffix defaults to "before").
Building a query runs no action, but it is not free: every
``functions.materialize`` on the way runs the exchanges beneath it at
call time, so a query with a pre-pass or a loop runs Spark jobs while
its plan is built.  The printed plan starts at those materialized
frames.  The streaming special-case has no batch plan; it is skipped.

Expression, exchange and RDD ids (``#123``, ``plan_id=7``,
``RDD[42]``), the numbers PySpark appends to lambda variables
(``x_40``) and temp paths are normalized, so diffing the output
directories of two commits is a plan diff.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")
_TMP = re.compile(re.escape(tempfile.gettempdir()) + r"/[^\s,\]\)]+")
# PySpark names a Python lambda's variable from a process-wide counter
_LAMBDA_VAR = re.compile(r"(lambda \w+?)_\d+\b")


def normalize(plan: str) -> str:
    """Drop what changes from run to run: expression, exchange and RDD
    ids, lambda variable numbers, temp paths."""
    plan = _PLAN_ID.sub("plan_id=N", _EXPR_ID.sub("#N", plan))
    plan = _LAMBDA_VAR.sub(r"\1_N", _RDD_ID.sub("RDD[N]", plan))
    return _TMP.sub("<tmp>", plan)


def main() -> int:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = sys.argv[3:]

    import bench as bench_mod
    import __spark_entry__ as entry_mod
    from fuel_spark.session import get_spark

    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("fuel_spark-explain",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = entry_mod.queries()
    names = only or [n for n in bench_mod.HEADLINERS if n in qs]
    for name in names:
        if name == "curation_pipeline_noprepass":
            fn = lambda s, d: entry_mod.q_curation_pipeline(
                s, d, prededup_exact=False)
        elif name not in qs:
            print(f"skip {name} (not a batch registry query)")
            continue
        else:
            fn = qs[name]
        try:
            df = fn(spark, sf_dir)
            plan = normalize(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        except Exception as e:  # pragma: no cover - capture tool
            plan = f"EXPLAIN FAILED: {e}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, Exchange x{n_ex} -> {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
