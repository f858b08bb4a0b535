"""Runner smoke test: every workload, untraced and traced, on a tiny corpus.

    python3 perfbench/smoke.py

Run from the root of a source checkout before a full benchmark run. Exits 1
if a run fails, prints anything but one well-formed result line, counts a
failed operation, or misses a metric of BENCHMARK.json; also checks that the
runner refuses, without a result, a directory holding only the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: str, workload: str, trace: int) -> tuple[int, str]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    return p.returncode, p.stdout


def problems(spec: dict, trace: int, rc: int, out: str) -> list[str]:
    if rc != 0:
        return [f"exit code {rc}"]
    lines = out.strip().splitlines()
    if len(lines) != 1:
        return [f"{len(lines)} lines on standard output"]
    res = json.loads(lines[0])
    found = []
    if set(res) != RESULT_KEYS:
        found.append(f"result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        found.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {n: m.get("unit") for n, m in res.get("metrics", {}).items()}
    if got != want:
        found.append(f"metrics differ: {sorted(set(want) ^ set(got))}")
    return found


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failed = False
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            t0 = time.perf_counter()
            rc, out = run(ROOT, w, trace)
            bad = problems(spec, trace, rc, out)
            failed |= bool(bad)
            print(f"{w} trace={trace}: {'; '.join(bad) or 'ok'} "
                  f"({time.perf_counter() - t0:.0f}s)")

    bare = os.path.join(ROOT, ".perfbench_tmp", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, out = run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    ok = rc != 0 and not out.strip()
    failed |= not ok
    print(f"benchmark-only directory refused: {'ok' if ok else f'exit {rc}, {out!r}'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
