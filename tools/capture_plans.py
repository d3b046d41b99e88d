"""Capture `.explain("formatted")` for registered queries into a directory.

Usage:
  python tools/capture_plans.py OUT_DIR SF_DIR SUFFIX [name ...]
  python tools/capture_plans.py OUT_DIR SF_DIR SUFFIX --module llm_ops12 ...

Writes OUT_DIR/<query>_<SUFFIX>.txt for each selected query: the names
given, every query registered in the named plan modules (``--module``,
repeatable), or by default the full bench list. SF_DIR is the fixture
directory of the scale factor to plan against (e.g. ``.../sf0.1``): the
small-scan repartition gate in sources/registry.py fires only at larger
scales, so plans are comparable only at the same SF. Explain output is
pre-AQE (isFinalPlan=false). Capture on two commits with the same
arguments and diff with ``--normalize`` output to compare plans modulo
expression and plan IDs.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

#: expression IDs (`#123L`), exchange plan IDs (`plan_id=7`) and RDD IDs
#: (`MapPartitionsRDD[367]`, from checkpoints) change with construction
#: order and session history alone; masking them leaves the plan's shape
#: and content
_ID_RES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def normalize(plan: str) -> str:
    for rx, rep in _ID_RES:
        plan = rx.sub(rep, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("sf_dir")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--module", action="append", default=[])
    ap.add_argument(
        "--normalize",
        action="store_true",
        help="mask expression/plan IDs in the written files",
    )
    args = ap.parse_args()

    from etl_from_s3_to_postgresql_template_spark.plans import QUERIES, provenance
    from etl_from_s3_to_postgresql_template_spark.session import get_spark

    names = list(args.names)
    if args.module:
        mods = provenance.query_module_map()
        names += [n for n in QUERIES if mods[n].stem in args.module]
    if not names:
        from bench import DOCS_HEAVY, HEADLINE, HEAVY

        names = HEADLINE + HEAVY + DOCS_HEAVY
    os.makedirs(args.out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    for name in names:
        try:
            df = QUERIES[name](spark, args.sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # pragma: no cover - capture tool only
            plan = f"EXPLAIN FAILED: {exc}"
        if args.normalize:
            plan = normalize(plan)
        with open(os.path.join(args.out_dir, f"{name}_{args.suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(name, "ok" if not plan.startswith("EXPLAIN FAILED") else "FAILED")


if __name__ == "__main__":
    main()
