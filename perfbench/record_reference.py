#!/usr/bin/env python3
"""Record the reference digests the catalog workloads check against.

    python3 perfbench/record_reference.py

Runs every row of every catalog workload twice in one JVM (the untimed
warm-up, then one pass) on the workload's fixture, requires both
digests of a row to agree, and writes them to
perfbench/reference/catalog_digests.json. Record only at a commit whose
catalog passes the DuckDB oracle on these fixtures (graft.Verify and
tools/verify_local.py), so each reference digest is of a verified
result.
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

import run  # noqa: E402
from bench import catalog  # noqa: E402


def main():
    reference = {}
    for name, spec in sorted(catalog.load_workloads().items()):
        if spec["kind"] != "catalog":
            continue
        run_dir = os.path.join(run.ROOT, run.RUNS_DIR, "reference-" + name)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        rows = sorted(spec["rows"])
        plan = {"kind": "catalog", "data_dir": os.path.join(catalog.DATA, spec["data"]),
                "warmup": rows, "passes": [rows], "nproc": run.nproc(), "trace": False,
                "seconds": 0, "session_reps": 1}
        result = run.run_jvm(plan, run_dir, 900)
        seen = {}
        for op in result["ops"]:
            if not op["ok"]:
                sys.exit("%s failed: %s" % (op["name"], op.get("error")))
            if seen.setdefault(op["name"], op["digest"]) != op["digest"]:
                sys.exit("%s gives different digests on repeat runs" % op["name"])
        reference.setdefault(spec["data"], {}).update(seen)
    os.makedirs(os.path.dirname(catalog.REFERENCE), exist_ok=True)
    with open(catalog.REFERENCE, "w") as f:
        json.dump(reference, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote %s" % catalog.REFERENCE)


if __name__ == "__main__":
    main()
