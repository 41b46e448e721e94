"""Record the expected ``fields_curate`` outputs for every seed class.

    python3 perfbench/record_fields.py [class ...]

Runs one pass of the ``fields_curate`` job per seed class (all of them when
none is named) in one local[4] session and writes the EAV, wide and curated
counts and digests and the funnel counts to ``perfbench/expected_fields.json``,
which the benchmark's output check compares against. Rerun it only for a
change that is meant to alter field or funnel output.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402


def main(argv: list[str]) -> int:
    conf = run._pin_environment()
    from perfbench import tracing, workloads

    classes = [int(a) for a in argv] or list(range(workloads.SEED_CLASSES))
    path = workloads.EXPECTED_FIELDS
    expected = {}
    if os.path.exists(path):
        with open(path) as f:
            expected = json.load(f)
    sessions = run.Sessions(conf)
    spark = sessions.start("local[4]")
    try:
        for seed in classes:
            workload, _plan = workloads.make(workloads.FieldsCurate.name, run.WORK, seed)
            if not workload.load():
                workload.generate(spark)
                workload.load()
            _job_s, outcome = workload.run_once(spark, tracing.Spans(), f"r{seed}")
            expected[str(seed)] = outcome
            print(seed, json.dumps(outcome), flush=True)
    finally:
        sessions.stop(spark)
    with open(path, "w") as f:
        json.dump(dict(sorted(expected.items(), key=lambda kv: int(kv[0]))), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
