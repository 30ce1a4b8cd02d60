#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes.

Runs every workload of BENCHMARK.json with --scale smoke (a 600-address
extract and warehouse, two queries at sf0.001), untraced and traced, and
checks that each run prints exactly the metric names BENCHMARK.json lists,
with their units, and that the traced import charges time and jobs to each
of its layers. Then it makes one operation fail (an unknown export
variant, on which Pipeline.export throws IllegalArgumentException) and
checks that the failure is counted and lowers success_rate; and it checks
each query against another query's oracle and checks that the wrong
outputs are counted and make run_s slower, not faster.

Usage, from the repository root:  python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            out = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: {sorted(set(got) ^ set(want))}"
            assert all(isinstance(v["value"], float) for v in out["metrics"].values())
            assert out["correct"] and out["failed"] == 0, out
            if trace == 0:
                assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]
            elif w["name"] == "bag_import":
                # the listener split the import into its layers
                m = {k: v["value"] for k, v in out["metrics"].items()}
                layered = [k for k in m if k.startswith(("ingest.", "curate.", "validate."))
                           and k.endswith((".wall_s", ".jobs", ".exec_run_s"))]
                assert all(m[k] > 0 for k in layered), {k: m[k] for k in layered}
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{out['attempted']} operations")
    out = run("query_mix", 0, "--inject-failure", "throw")
    rate = out["metrics"]["success_rate"]["value"]
    assert out["failed"] >= 1 and not out["correct"] and rate < 1.0, out
    print(f"ok  query_mix with an unknown export variant: {out['failed']} of "
          f"{out['attempted']} operations failed, success_rate {rate:.3f}")
    # wrong outputs count as failures and as FAIL_PENALTY_S each, never as fast
    out = run("query_mix", 0, "--inject-failure", "wrong")
    run_s = out["metrics"]["run_s"]["value"]
    assert out["failed"] >= 2 and not out["correct"] and run_s >= 2 * 180.0, out
    print(f"ok  query_mix with wrong query outputs: {out['failed']} of "
          f"{out['attempted']} operations failed, run_s {run_s:.1f}")

if __name__ == "__main__":
    main()
