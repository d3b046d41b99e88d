"""Measure a plan's actual shuffle volume at two scales.

The 100x sweep (SCALING.md) grades plans by wall-time RATIO,
which conflates compute with shuffle; for a shuffle-bound shape like q18
(group-having-join: the pre-agg rows on l_orderkey ARE the cost) the
linearity claim should be byte-backed. This tool runs a named registered
plan at two sf dirs and reports, per run, total shuffle WRITE bytes and
records summed over that run's stages — read straight from Spark's own
AppStatusStore (the same store the UI renders), so no event-log parsing
and no timing noise: bytes are deterministic for a fixed plan + input.

Usage: python tools/shuffle_bytes.py <plan> <small_dir> <big_dir>
Prints one JSON line: {plan, small: {...}, big: {...}, bytes_ratio}.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from etl_from_s3_to_postgresql_template_spark.plans import QUERIES
from etl_from_s3_to_postgresql_template_spark.session import get_spark


def _stage_ids_metrics(spark) -> dict[int, tuple[int, int]]:
    """{stageId: (shuffle_write_bytes, shuffle_write_records)} for every
    completed stage currently in the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {}
    # Spark 4 signature: stageList(statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus) — Scala default args are not visible
    # through py4j, so pass every default explicitly.
    statuses = sc._jvm.java.util.ArrayList()  # empty = all stage statuses
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    task_status = sc._jvm.java.util.ArrayList()
    it = store.stageList(statuses, False, False, quantiles, task_status).iterator()
    while it.hasNext():
        s = it.next()
        out[int(s.stageId())] = (
            int(s.shuffleWriteBytes()),
            int(s.shuffleWriteRecords()),
        )
    return out


def run_once(spark, name: str, sf_dir: str) -> dict:
    before = _stage_ids_metrics(spark)
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    after = _stage_ids_metrics(spark)
    new = {sid: m for sid, m in after.items() if sid not in before}
    return {
        "stages": len(new),
        "shuffle_write_bytes": sum(b for b, _ in new.values()),
        "shuffle_write_records": sum(r for _, r in new.values()),
    }


def main() -> None:
    name = sys.argv[1]
    small, big = sys.argv[2], sys.argv[3]
    spark = get_spark("shuffle-bytes")
    res = {
        "plan": name,
        "small": run_once(spark, name, small),
        "big": run_once(spark, name, big),
    }
    sb = res["small"]["shuffle_write_bytes"] or 1
    res["bytes_ratio"] = round(res["big"]["shuffle_write_bytes"] / sb, 2)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
