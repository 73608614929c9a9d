"""Self-test of the benchmark at sf0.001 with few passes.

    python3 perfbench/selftest.py

Runs every workload untraced and traced and checks that:
  * every metric named in BENCHMARK.json is printed, with its unit;
  * no call failed the output check and ok_share is 1;
  * the spans nest and every span's self time is non-negative;
  * no run directory, engine temp dir in the system temp dir, or process of
    the run outlives it.
Prints one line per problem and exits 1 if there is any.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def leftover_workers() -> list[int]:
    pids = []
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            try:
                cmd = Path(f"/proc/{entry.name}/cmdline").read_bytes()
            except OSError:
                continue
            if b"perfbench/worker.py" in cmd or b".perfbench_run" in cmd:
                pids.append(int(entry.name))
    return pids


def check_spans(spans: list[dict], where: str) -> list[str]:
    problems = []
    by_id = {s["id"]: s for s in spans}
    child_time: dict[int, float] = {}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            problems.append(f"{where}: span {s['name']} has no valid end")
            continue
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None or not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            problems.append(f"{where}: span {s['name']} is not inside its parent")
            continue
        child_time[p["id"]] = child_time.get(p["id"], 0.0) + s["end"] - s["start"]
    for s in spans:
        if s["end"] is not None and s["end"] - s["start"] - child_time.get(s["id"], 0.0) < -1e-6:
            problems.append(f"{where}: span {s['name']} has negative self time")
    roots = [s for s in spans if s["parent"] is None]
    if [s["name"] for s in roots] != ["run"]:
        problems.append(f"{where}: expected one root span 'run', got {[s['name'] for s in roots]}")
    passes = [s for s in spans if s["name"].startswith("pass")]
    if not passes or any(by_id[s["parent"]]["name"] != "run" for s in passes):
        problems.append(f"{where}: pass spans must be children of the run span")
    for s in spans:
        if s["parent"] is not None and by_id[s["parent"]]["name"].startswith("pass") \
                and s["name"] not in {c.metric for w in WORKLOADS.values() for c in w.calls}:
            problems.append(f"{where}: unexpected span {s['name']} under a pass")
    return problems


def run_once(workload: str, trace: int, bench: dict) -> list[str]:
    where = f"{workload} trace={trace}"
    sys_tmp = Path(tempfile.gettempdir())
    before = set(sys_tmp.glob("spark_graft_*"))
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    problems = []
    if proc.returncode != 0:
        return [f"{where}: exit code {proc.returncode}\n{proc.stderr[-3000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"{where}: correct={result['correct']} failed={result['failed']} "
                        f"attempted={result['attempted']}\n{proc.stderr[-3000:]}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    if got != want:
        problems.append(f"{where}: metric names/units differ from BENCHMARK.json: "
                        f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                        f"unit mismatch {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
    if any(not isinstance(m["value"], (int, float)) for m in result["metrics"].values()):
        problems.append(f"{where}: a metric value is not a number")
    if not trace and result["metrics"].get("ok_share", {}).get("value") != 1.0:
        problems.append(f"{where}: ok_share is not 1")
    record_line = next((ln for ln in lines if "record written to" in ln), None)
    if record_line is None:
        problems.append(f"{where}: no record path printed")
    elif trace:
        record = json.loads((ROOT / record_line.split("record written to ")[1]).read_text())
        problems += check_spans(record["spans"], where)
    runs = ROOT / ".perfbench_run"
    if runs.exists() and any(runs.iterdir()):
        problems.append(f"{where}: run directory left behind: {sorted(p.name for p in runs.iterdir())}")
    leaked = set(sys_tmp.glob("spark_graft_*")) - before
    if leaked:
        problems.append(f"{where}: engine temp dirs left in {sys_tmp}: {sorted(p.name for p in leaked)}")
    if leftover_workers():
        problems.append(f"{where}: processes of the run still alive: {leftover_workers()}")
    return problems


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if {w["name"] for w in bench["workloads"]} != set(WORKLOADS):
        print("BENCHMARK.json workloads differ from workloads.py")
        return 1
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            found = run_once(workload, trace, bench)
            print(f"{workload} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
