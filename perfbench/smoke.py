#!/usr/bin/env python3
"""Smoke check of the benchmark at a tiny size, from the root of a checkout:

    python3 perfbench/smoke.py

For every workload, an untraced and a traced run must emit every metric
BENCHMARK.json names, with its unit, and a run with the first op's known
answer corrupted must report that op as failed. Known-answer failures of the
uncorrupted runs are engine failures: they are listed at the end and make
the exit status non-zero.
"""
import json
import subprocess
import sys

SPEC = json.load(open("BENCHMARK.json"))


def run(workload, trace, corrupt="0"):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "6", "--trace", trace, "--size", "tiny", "--corrupt", corrupt]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}: {p.stderr.strip()}")
    lines = p.stdout.strip().splitlines()
    res, info = json.loads(lines[-1]), json.loads(lines[-2])["info"]
    if sorted(res) != ["attempted", "correct", "failed", "metrics"] or res["attempted"] < 1:
        sys.exit(f"FAIL {workload} trace={trace}: malformed result {sorted(res)}")
    return res, info


def main():
    engine_failures = []
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace, names in (("0", SPEC["end_to_end"]), ("1", SPEC["per_layer"])):
            res, info = run(w, trace)
            got = res["metrics"]
            for m in names:
                if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
                    sys.exit(f"FAIL {w} trace={trace}: metric {m['name']} [{m['unit']}] missing")
            if res["failed"]:
                engine_failures.append(f"{w} trace={trace}: failed ops {info['failed_ops']}")
            print(f"ok {w} trace={trace}: {res['attempted']} ops, {len(got)} metrics, "
                  f"{res['failed']} failed")
        res, info = run(w, "0", corrupt="1")
        first = next(o.split(":")[0] for o in info["op_ms"].split(",")
                     if not o.startswith("warmup"))
        if res["correct"] or first not in info["failed_ops"].split(","):
            sys.exit(f"FAIL {w}: the corrupted known answer of the first op ({first}) was not "
                     f"counted as failed")
        print(f"ok {w}: corrupted known answer counted as failed")
    if engine_failures:
        sys.exit("engine failures on uncorrupted runs:\n  " + "\n  ".join(engine_failures))


if __name__ == "__main__":
    main()
