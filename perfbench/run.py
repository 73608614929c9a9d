"""Pipeline benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload market --seed 0 --seconds 25 --trace 0

Runs one workload (see workloads.py and README.md) in a fresh worker
process over the sf0.01 tables, checks every call's output against the
registry's DuckDB oracle, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Run it from the repo root. It reads the engine's sf0.01 test tables, found
beside the engine's default scale-factor directory (catalog.DEFAULT_SF_DIR),
and writes only under the repo root:
seeded inputs and oracle fingerprints in .perfbench_cache/, the run's temp
directory in .perfbench_run/ (removed when the run ends), and one record
per run (environment, pass times, spans) in .perfbench_out/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import zlib
from pathlib import Path

from worker import session_procs
from workloads import END_TO_END, WORKLOADS, per_layer_metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "stockmarket_bigdata_project_spark"
RUN_LIMIT_S = 160  # the worker is killed after this long
PASS_LIMIT_S = 110  # no pass starts after this long; leaves time to set up again and check


def engine_fingerprint() -> str:
    h = hashlib.sha256()
    for path in sorted(ENGINE.rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def seeded_inputs(shipped: Path, seed: int, cache: Path) -> Path:
    """Seed 0 is the shipped tables. Any other seed permutes the row order
    of every table, once, into the cache."""
    if seed == 0:
        return shipped
    out = cache / f"{shipped.name}-seed{seed}"
    if out.is_dir():
        return out
    import numpy as np
    import pyarrow.parquet as pq

    tmp = Path(tempfile.mkdtemp(prefix=out.name + ".", dir=cache))
    for src in sorted(shipped.glob("*.parquet")):
        table = pq.read_table(src)
        rng = np.random.default_rng([seed, zlib.crc32(src.name.encode())])
        pq.write_table(table.take(rng.permutation(table.num_rows)), tmp / src.name)
    try:
        tmp.rename(out)
    except OSError:  # another run made it first
        shutil.rmtree(tmp)
    return out


def session_pids(sid: int) -> list[int]:
    return [pid for pid, _ in session_procs(sid)]


def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Wait for every process of the worker's session (its JVM and Python
    workers included) to end; kill what is left after grace_s."""
    deadline = time.monotonic() + grace_s
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_pids(sid):
        time.sleep(0.05)


def load1() -> float:
    return os.getloadavg()[0]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", default="0.01", help="scale factor of the input tables")
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    if not (ENGINE / "session.py").is_file():
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    # the engine's read-only test tables: one directory per scale factor,
    # beside the engine's default one
    sys.path.insert(0, str(ROOT))
    from stockmarket_bigdata_project_spark.catalog import DEFAULT_SF_DIR

    shipped = Path(DEFAULT_SF_DIR).parent / f"sf{args.sf}"
    if not shipped.is_dir():
        print(f"perfbench: input tables not found at {shipped}", file=sys.stderr)
        return 2

    t_start = time.time()
    load_before, steal_before = load1(), steal_s()
    fp = engine_fingerprint()
    cache = ROOT / ".perfbench_cache"
    cache.mkdir(exist_ok=True)
    data_dir = seeded_inputs(shipped, args.seed, cache)
    runs = ROOT / ".perfbench_run"
    runs.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs))
    nproc = len(os.sched_getaffinity(0))
    slots = max(1, nproc - 1)  # one core left for the Python process and the JVM's JIT and GC
    try:
        for sub in ("tmp", "local", "warehouse"):
            (run_dir / sub).mkdir()
        env = dict(
            os.environ,
            TMPDIR=str(run_dir / "tmp"),
            SPARK_LOCAL_DIRS=str(run_dir / "local"),
            SPARK_GRAFT_WAREHOUSE=str(run_dir / "warehouse"),
            SPARK_GRAFT_CPUS=str(slots),
            # the pandas UDF in predict_returns imports the engine in the
            # Python workers
            PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
            TZ="UTC",
        )
        cfg = {
            "workload": args.workload,
            "data_dir": str(data_dir),
            "shipped_dir": str(shipped),
            "seconds": args.seconds,
            "trace": args.trace,
            "oracle_cache": str(cache / f"oracle-{args.workload}-sf{args.sf}-{fp[:16]}.json"),
        }
        cfg_path, out_path = run_dir / "config.json", run_dir / "result.json"
        cfg["t_spawn"] = time.time()
        cfg["pass_deadline"] = cfg["t_spawn"] + PASS_LIMIT_S
        cfg_path.write_text(json.dumps(cfg))
        with open(run_dir / "worker.log", "wb") as log:
            proc = subprocess.Popen(
                [sys.executable, str(HERE / "worker.py"), str(cfg_path), str(out_path)],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=log,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=RUN_LIMIT_S - (time.time() - t_start))
            except subprocess.TimeoutExpired:
                proc.kill()
                code = proc.wait()
                print("perfbench: worker timed out", file=sys.stderr)
            finally:
                stop_session(proc.pid)
        tmp_left = sum(1 for _ in (run_dir / "tmp").iterdir())  # engine temp dirs leaked
        if code != 0 or not out_path.exists():
            sys.stderr.write((run_dir / "worker.log").read_text(errors="replace")[-4000:])
            print(f"perfbench: worker exited with code {code}", file=sys.stderr)
            return 1
        result = json.loads(out_path.read_text())
        worker_log = (run_dir / "worker.log").read_text(errors="replace")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            runs.rmdir()  # only when no other run is using it
        except OSError:
            pass

    if result["failed"]:
        sys.stderr.write(worker_log[-4000:])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf,
        "env": dict(result["env"], nproc=nproc, engine_sha256=fp,
                    load1_before=load_before, load1_after=load1(),
                    cpu_steal_s=steal_s() - steal_before,
                    python=sys.version.split()[0]),
        "tmp_entries_left": tmp_left,
        "run_wall_s": time.time() - t_start,
        **{k: result[k] for k in ("correct", "attempted", "failed", "end_to_end",
                                  "per_layer", "setups_s", "peak_rss_kb", "passes", "spans")},
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(t_start))
    record_path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    record_path.write_text(json.dumps(record, indent=1))

    values = result["per_layer"] if args.trace else result["end_to_end"]
    units = per_layer_metrics() if args.trace else END_TO_END
    print(f"perfbench: record written to {record_path.relative_to(ROOT)}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
