"""Self-test of the benchmark: the ``BENCHMARK.json`` schema, and the
result line of smoke-size runs of each workload, untraced and traced.

    python3 perfbench/selftest.py                  # every workload, ~5 min
    python3 perfbench/selftest.py daily_fold       # one workload

Smoke runs use ``--smoke`` (inputs a tenth of the size or less), so their
figures mean nothing; only names, units, types and the correctness flag
are checked.  It also checks that the benchmark refuses to run, without
printing a result, when the package is not beside it.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def check_schema(spec: dict) -> list[str]:
    errs = []

    def need(cond: bool, msg: str) -> None:
        if not cond:
            errs.append(msg)

    need(set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
         f"top-level keys {sorted(spec)}")
    cmd, paths = spec.get("command", []), spec.get("paths", [])
    need(1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd), "command")
    need(1 <= len(paths) <= 16, "paths count")
    for p in paths:
        need(bool(PATH.match(p)) and not p.startswith("/") and ".." not in p.split("/"), f"path {p!r}")
        need(os.path.isdir(os.path.join(REPO, p)), f"path {p!r} is not a directory")
    for c in cmd[1:]:
        if "/" in c:
            need(any(c == p or c.startswith(p.rstrip("/") + "/") for p in paths), f"{c!r} outside paths")
    rs = spec.get("run_seconds")
    need(isinstance(rs, int) and 1 <= rs <= 60, "run_seconds")
    wls = spec.get("workloads", [])
    need(2 <= len(wls) <= 8, "workload count")
    for w in wls:
        need(set(w) == {"name", "why"}, f"workload keys {sorted(w)}")
        need(len(w.get("why", "")) <= 200 and "\n" not in w.get("why", ""), f"why of {w.get('name')}")
    e2e, layers = spec.get("end_to_end", []), spec.get("per_layer", [])
    need(1 <= len(e2e) <= 16, "end_to_end count")
    need(1 <= len(layers) <= 128, "per_layer count")
    for m in e2e:
        need(set(m) == {"name", "unit", "better", "bound"}, f"end_to_end keys of {m.get('name')}")
        need(isinstance(m.get("bound"), (int, float)) and 0 < m["bound"] <= 0.25, f"bound of {m.get('name')}")
    for m in layers:
        need(set(m) == {"name", "unit", "better"}, f"per_layer keys of {m.get('name')}")
    need({"name": "setup_s", "unit": "s", "better": "lower"}.items()
         <= next((m for m in e2e if m.get("name") == "setup_s"), {}).items(), "setup_s metric")
    setup_bound = next((m["bound"] for m in e2e if m.get("name") == "setup_s"), 0)
    need(all(m["bound"] <= setup_bound for m in e2e), "setup_s must have the largest bound")
    names = [x["name"] for x in wls + e2e + layers]
    need(len(names) == len(set(names)), "names must be unique")
    for x in e2e + layers:
        need(bool(NAME.match(x["name"])), f"name {x['name']!r}")
        need(bool(UNIT.match(x["unit"])), f"unit {x['unit']!r}")
        need(x["better"] in ("lower", "higher"), f"better of {x['name']}")
    for w in wls:
        need(bool(NAME.match(w["name"])), f"name {w['name']!r}")
    return errs


def check_result(line: str, metrics: list[dict], positive: bool) -> list[str]:
    res = json.loads(line)
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return [f"result keys {sorted(res)}"]
    if res["correct"] is not True:
        errs.append("correct is not true")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1):
        errs.append("attempted")
    if not (isinstance(res["failed"], int) and 0 <= res["failed"] <= res["attempted"]):
        errs.append("failed")
    want = {m["name"]: m["unit"] for m in metrics}
    got = res["metrics"]
    if set(got) != set(want):
        errs.append(f"metric names: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        v = m.get("value")
        if set(m) != {"value", "unit"} or m.get("unit") != want.get(name):
            errs.append(f"{name}: {m}")
        elif isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{name}: value {v!r}")
        elif positive and v <= 0:
            errs.append(f"{name}: end-to-end value {v} is not positive")
    return errs


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def check_refusal() -> list[str]:
    """In a directory with only BENCHMARK.json and the benchmark, the run
    must fail without printing a result."""
    bare = os.path.join(REPO, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(["--workload", "bulk_build", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare run: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    return []


def main(argv: list[str]) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = [f"schema: {e}" for e in check_schema(spec)]
    failures += [f"refusal: {e}" for e in check_refusal()]
    workloads = argv or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            p = run(["--workload", w, "--seed", "1", "--seconds", "1",
                     "--trace", str(trace), "--smoke"], REPO)
            lines = p.stdout.strip().splitlines()
            label = f"{w} trace={trace}"
            if p.returncode != 0 or not lines:
                failures.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            metrics = spec["per_layer"] if trace else spec["end_to_end"]
            failures += [f"{label}: {e}" for e in check_result(lines[-1], metrics, not trace)]
            print(f"{label}: {lines[-1][:120]}", flush=True)
    for f in failures:
        print("FAIL", f)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
