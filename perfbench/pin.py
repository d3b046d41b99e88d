"""Regenerate ``pins.json``: each corpus-pack query's row count and value
hash on the generated pack tables.

    python3 perfbench/pin.py

Runs every query of the pack in two fresh sessions, at ``local[4]`` and
``local[2]``. A query whose hash differs between them (or between two runs
in one session) depends on partitioning or timing; it is pinned by row
count only (``"hash": null``). Re-pin only when the engine is meant to
change a result, and say so in the change.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

CPUS = (4, 2)


def digest_all(cpus: int) -> dict[str, list[int]]:
    work = os.path.join(run.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    try:
        run.pin_environment(work)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        spark = run.start_spark(work, traced=False)
        import gen
        from etl_from_s3_to_postgresql_template_spark.plans import QUERIES

        sf = gen.make_pack_tables(os.path.join(work, "pack"))
        out = {}
        for q in workloads.CORPUS:
            a = workloads.result_digest(QUERIES[q](spark, sf))
            b = workloads.result_digest(QUERIES[q](spark, sf))
            out[q] = [a[0], a[1] if a == b else None]
        run.stop_spark(spark)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--cpus":
        print(json.dumps(digest_all(int(sys.argv[2]))))
        return
    runs = []
    for cpus in CPUS:
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cpus", str(cpus)],
            cwd=run.ROOT, capture_output=True, text=True, check=True, timeout=1800,
        )
        runs.append(json.loads(res.stdout.strip().splitlines()[-1]))
    pins = {}
    for q in runs[0]:
        rows = {r[q][0] for r in runs}
        hashes = {r[q][1] for r in runs}
        if len(rows) != 1:
            raise SystemExit(f"{q}: row count differs between sessions: {rows}")
        pins[q] = {"rows": rows.pop(), "hash": hashes.pop() if len(hashes) == 1 else None}
    with open(workloads.PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(pins)} queries, {sum(p['hash'] is None for p in pins.values())} by row count only")


if __name__ == "__main__":
    main()
