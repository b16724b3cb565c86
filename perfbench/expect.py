#!/usr/bin/env python3
"""Records the expected output of every benchmark query into
perfbench/expected.json.

    python3 perfbench/expect.py [--verify DUMP_DIR]

Run from the root of a checkout of the commit whose outputs are the
reference. Two fresh JVMs each run every workload query for two passes,
in different orders; a query counts as deterministic when all four
digests agree. Deterministic queries are stored with their row count,
schema and hash. The MLlib gates (graftbench.Workloads.gates) have no
oracle and are stored for schema and row count only, as is any
nondeterministic query; the nondeterministic ones are listed on stderr.
With --verify, each query's live digest must also equal the digest of
its parquet dump in DUMP_DIR (a `graft.Verify` output directory that
tools/check_parity.py has passed).
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--verify")
    a = ap.parse_args()
    run.build()
    os.makedirs(os.path.join(run.BUILD, "logs"), exist_ok=True)
    log = os.path.join(run.BUILD, "logs", "expect.log")
    open(log, "w").close()
    args = {"mode": "expect", "passes": 2}
    if a.verify:
        args["verify"] = os.path.abspath(a.verify)
    results = [run.jvm(dict(args, seed=seed), os.path.join(run.BUILD, "work"),
                       log, timeout=3600) for seed in (1, 2)]
    expected, problems, unstable = {}, [], []
    for q, first in results[0].items():
        second = results[1][q]
        for r in (first, second):
            if r["status"] != "ok":
                problems.append(f"{q}: {r['status']} {r['error']}")
        if "dump_hash" in first and (first["dump_hash"], first["dump_rows"]) != (
                first["hash"], first["rows"]):
            problems.append(f"{q}: live digest differs from its verified dump")
        stable = first["stable"] and second["stable"] and first["hash"] == second["hash"]
        if not stable:
            unstable.append(q)
        hashed = stable and not first["rows_only"]
        expected[q] = {"rows": first["rows"],
                       "hash": first["hash"] if hashed else None,
                       "schema": first["schema"]}
    if problems:
        sys.exit("not recorded:\n  " + "\n  ".join(problems))
    for q in unstable:
        print(f"nondeterministic, checked by rows only: {q}", file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(expected)} queries, {len(unstable)} nondeterministic")


if __name__ == "__main__":
    main()
