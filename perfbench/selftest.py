#!/usr/bin/env python3
"""Self-tests of the benchmark at tiny input sizes (a few minutes).

    python3 perfbench/selftest.py

1. Every workload, untraced and traced, prints every metric BENCHMARK.json
   names, each with its unit, and passes its correctness gate.
2. A deliberately wrong expected count (--corrupt-expected 1) makes the
   gate fail: failed > 0, so failed_frac = failed / attempted > 0.
3. Without the hotdog sources next to it, the benchmark exits non-zero
   without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []

    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out = run(w, trace)
            if code != 0:
                problems.append(f"{w} trace={trace}: exit {code}")
                continue
            res = last_json(out)
            if not res["correct"] or res["failed"] != 0:
                problems.append(f"{w} trace={trace}: gate failed at the committed code")
            lines = {l.split(" ")[0]: l.split(" ") for l in out.splitlines()[:-1]}
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w}: {m['name']} missing or not in {m['unit']}: {got}")
                printed = lines.get(m["name"])
                if not printed or len(printed) != 3 or printed[2] != m["unit"]:
                    problems.append(f"{w}: {m['name']} not printed with its unit")
            if set(res["metrics"]) != {m["name"] for m in bench[key]}:
                problems.append(f"{w} trace={trace}: metric set differs from BENCHMARK.json")
            print(f"ok   {w} trace={trace}", flush=True)

    for w in ("flagship_batch", "stream_small_batches"):
        code, out = run(w, 0, "--corrupt-expected", "1")
        res = last_json(out) if code == 0 else None
        if not res or res["failed"] == 0 or res["correct"]:
            problems.append(f"{w}: a wrong expected count did not fail the gate: {res}")
        else:
            print(f"ok   {w} wrong expected count -> failed_frac "
                  f"{res['failed'] / res['attempted']:.2f}", flush=True)

    scratch = os.path.join(ROOT, ".bench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        code, out = run("flagship_batch", 0, cwd=bare)
        if code == 0 or out.strip():
            problems.append(f"benchmark alone: exit {code}, printed {out!r}")
        else:
            print(f"ok   benchmark alone exits {code} without a result", flush=True)

    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
