"""Tiny-size self-test of the benchmark (about a minute per workload).

Runs each workload listed in BENCHMARK.json on tiny inputs, untraced and
traced, and ``tpch_relational`` traced, each in a fresh process, and
checks that

* every end-to-end and per-layer metric named in BENCHMARK.json is
  emitted with its unit;
* no operation failed and every output check passed;
* in the traced run, the self times of the spans account for each
  parent span: the children lie inside it without overlapping, so the
  parent's self time plus their durations is its duration;
* ``functions.python_bytes_sent`` is 0 on ``tpch_relational`` (no
  Python in its plans) and above 0 on ``llm_curation``.

    python3 perfbench/run.py --selftest
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import harness
import run

TINY = {"sf": 0.002, "stream_sizes": {"symbols": 50, "catchup": 20, "live": 12}}
SLACK_S = 0.005  # progress timestamps have millisecond resolution
#: What the traced run's ``functions.python_bytes_sent`` must satisfy.
PY_SENT = {"tpch_relational": lambda b: b == 0, "llm_curation": lambda b: b > 0}


def _run(workload: str, trace: bool) -> dict:
    code = (
        "import json, sys\n"
        f"sys.path[:0] = [{os.path.dirname(__file__)!r}, {harness.ROOT!r}]\n"
        "import run\n"
        f"rec = run.run_workload({workload!r}, 7, 0, {trace}, **{TINY!r})\n"
        "print(json.dumps(run.result_line(rec)))\n"
        "print(json.dumps(rec))\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload}: {proc.stderr[-3000:]}")
    line, rec = proc.stdout.splitlines()[-2:]
    return json.loads(line) | {"record": json.loads(rec)}


def span_problems(spans: list[dict]) -> list[str]:
    bad = []
    for p in spans:
        kids = sorted((s for s in spans if s["parent"] == p["id"]), key=lambda s: s["start"])
        if not kids:
            continue
        dur = p["end"] - p["start"]
        if kids[0]["start"] < p["start"] - SLACK_S or kids[-1]["end"] > p["end"] + SLACK_S:
            bad.append(f"span {p['id']} {p['name']}: a child lies outside it")
        if any(b["start"] < a["end"] - SLACK_S for a, b in zip(kids, kids[1:])):
            bad.append(f"span {p['id']} {p['name']}: children overlap")
        covered = sum(k["end"] - k["start"] for k in kids)
        if abs(p["self"] + covered - dur) > SLACK_S * len(kids):
            bad.append(f"span {p['id']} {p['name']}: self {p['self']:.3f} + children "
                       f"{covered:.3f} != {dur:.3f}")
    return bad


def main() -> int:
    bench = run.benchmark()
    problems = []
    runs = [(w["name"], trace) for w in bench["workloads"] for trace in (False, True)]
    for w, trace in runs + [("tpch_relational", True)]:
        names = bench["per_layer"] if trace else bench["end_to_end"]
        res = _run(w, trace)
        got = res["metrics"]
        for m in names:
            if m["name"] not in got:
                problems.append(f"{w}: metric {m['name']} missing")
            elif got[m["name"]]["unit"] != m["unit"]:
                problems.append(f"{w}: {m['name']} unit {got[m['name']]['unit']}")
        if res["failed"] or not res["correct"]:
            problems.append(f"{w}: failed {res['failed']} of {res['attempted']}: "
                            f"{res['record']['errors'][:3]}")
        if trace:
            path = os.path.join(harness.WORK, "traces", f"{w}-seed7.json")
            with open(path) as fh:
                problems += [f"{w}: {p}" for p in span_problems(json.load(fh))]
        sent = got.get("functions.python_bytes_sent", {}).get("value", 0)
        if trace and w in PY_SENT and not PY_SENT[w](sent):
            problems.append(f"{w}: functions.python_bytes_sent {sent}")
        print(f"{w} trace={int(trace)}: {len(got)} metrics, "
              f"failed_ratio {res['failed'] / res['attempted']:.4f}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0
