"""Regenerate ``perfbench/recorded.json``: per input seed and workload,
the checksum of the base input and of the late batches, and the result
hash of every serve query over a cold build of the cumulative input.

    python3 perfbench/record.py [seed ...]

Run it only when the benchmark's inputs or queries change on purpose;
the benchmark refuses inputs that no longer match (the input guard) and
counts a serve result that no longer matches as a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    import pandas as pd

    from perfbench import checks, inputs, phases
    from perfbench.run import Run, query_key

    seeds = [int(a) for a in sys.argv[1:]] or [*range(inputs.POOL), *inputs.HELD_OUT]
    path = os.path.join(ROOT, "perfbench", "recorded.json")
    recorded = {"seeds": {}}
    if os.path.exists(path):
        with open(path) as f:
            recorded = json.load(f)

    run = Run("record", 0, 0, 0)
    run.prepare_env()
    run.spark = run.start_session()
    try:
        for seed in seeds:
            entry = {"pages": {}, "input_sha256": {}, "late_sha256": {}, "serve": {}}
            for w, days in inputs.HISTORY_DAYS.items():
                base = inputs.base_pages(seed, days)
                late = inputs.late_batches(seed, base, days)
                entry["pages"][w] = len(base)
                entry["input_sha256"][w] = inputs.checksum([base])
                entry["late_sha256"][w] = inputs.checksum(late)
                # a cold build of the cumulative input: what serve_mix reads
                pages_dir = os.path.join(run.work, f"input-{seed}-{w}")
                out = os.path.join(run.work, f"build-{seed}-{w}")
                inputs.write_pages(pd.concat([base, *late]), pages_dir, inputs.N_FILES)
                phases.run_job(run.spark, pages_dir, out, "build", days)
                key = query_key(run.spark, out, seed)
                entry["serve"][w] = {
                    q: checks.frame_hash(phases.query(run.spark, q, out, key))
                    for q in phases.QUERIES
                }
                run.spark.catalog.clearCache()
                shutil.rmtree(pages_dir)
                shutil.rmtree(out)
            recorded["seeds"][str(seed)] = entry
            print(seed, json.dumps(entry), flush=True)
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
