"""One benchmark run in a fresh process: start Spark, set the workload up,
run its passes in a closed loop, and write the run's figures as JSON.

run.py starts this with every temp location pointed at the run's own
directory and the repo root on PYTHONPATH; it is not meant to be run by
hand. Usage: worker.py CONFIG_JSON OUTPUT_JSON
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

from workloads import WORKLOADS, Call, stage_calls, per_layer_metrics

PACKAGE = "stockmarket_bigdata_project_spark"
WARMUP_PASSES = 1  # warm passes run but not measured, so the rest level off
# At least this many passes are measured, however short --seconds is. A
# traced run measures one more, so it has traced passes on both sides of an
# untraced one.
MIN_MEASURED = 2
RESETUPS = 2  # extra set-ups after the passes; setup_s is the median of 1 + RESETUPS
TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 Compiler", "C2 Compiler")  # thread-name prefixes, as /proc shows them
GC_THREADS = ("GC ", "G1 ")
# The JVM heap is fixed and touched at start, well above the sf0.01 working
# set, so peak_rss_mb follows native and Python memory instead of G1's
# heap-growth choices from run to run. The JIT compiler threads are started
# once and never retired, so their CPU time can be told apart from the rest.
SESSION_CONF = {
    "spark.driver.memory": "2g",
    "spark.driver.extraJavaOptions":
        "-Xms2g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads",
    "spark.ui.showConsoleProgress": "false",
}


class Spans:
    """Call-boundary spans, kept in memory and written out with the run."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None) -> int:
        self.items.append({"id": len(self.items), "name": name, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        return len(self.items) - 1

    def close(self, sid: int) -> float:
        span = self.items[sid]
        span["end"] = time.perf_counter()
        return span["end"] - span["start"]


def resolve(call: Call):
    module, func = call.target.split(":")
    return getattr(importlib.import_module(f"{PACKAGE}.{module}"), func)


def fingerprint_exprs(df):
    """Row count and an order-insensitive hash of every row, null positions
    included (xxhash64 skips nulls, so they are hashed as a separate bit
    mask)."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    null_mask = sum(c.isNull().cast("long") * (1 << (i % 63)) for i, c in enumerate(cols))
    row_hash = F.xxhash64(*cols, null_mask)
    return (F.count(F.lit(1)).alias("rows"),
            F.sum(row_hash.cast("decimal(38,0)")).cast("string").alias("hash"))


def proc_stat(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        text = f.read()
    return [text[text.index("(") + 1:text.rindex(")")]] + text[text.rindex(")") + 2:].split()


def jvm_cpu(pid: int) -> float:
    """CPU seconds of the whole JVM process so far, ended threads included."""
    st = proc_stat(pid)
    return (int(st[12]) + int(st[13])) / TICK  # utime, stime


def jvm_threads(pid: int) -> dict[str, tuple[str, float]]:
    """tid -> (thread name, CPU seconds) for every live thread of the JVM."""
    out = {}
    for path in glob.glob(f"/proc/{pid}/task/*"):
        try:
            st = proc_stat(path.removeprefix("/proc/"))
        except OSError:
            continue  # thread ended
        out[path.rsplit("/", 1)[1]] = (st[0], (int(st[12]) + int(st[13])) / TICK)
    return out


def thread_cpu(before: dict, after: dict, prefixes: tuple[str, ...]) -> float:
    """CPU seconds spent between two jvm_threads() samples by the threads
    whose names start with one of prefixes and that were alive at the end."""
    return sum(cpu - before.get(tid, ("", 0.0))[1]
               for tid, (name, cpu) in after.items() if name.startswith(prefixes))


def session_procs(sid: int):
    """(pid, /proc stat fields) of every process in session sid."""
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            try:
                st = proc_stat(entry.name)
                if int(st[4]) == sid:
                    yield int(entry.name), st
            except (OSError, ValueError, IndexError):
                continue  # process ended while being read


def sample_peak_rss(peaks: dict[int, tuple[str, int]]) -> None:
    """Fold each process's VmHWM (kB) in this process's session into peaks
    (pid -> (command name, kB)): the worker, its JVM and the JVM's Python
    daemon and workers."""
    for pid, st in session_procs(os.getsid(0)):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks[pid] = (st[0], max(peaks.get(pid, ("", 0))[1], int(line.split()[1])))
        except OSError:
            continue  # process ended while being read


def session_cpu() -> float:
    """CPU seconds (user + system) used so far by every process in this
    process's session, with the children each has reaped: the worker, its
    JVM, and the JVM's Python daemon and workers. The kernel leaves out time
    the hypervisor gave to other guests."""
    ticks = sum(int(v) for _, st in session_procs(os.getsid(0))
                for v in st[12:16])  # utime stime cutime cstime
    return ticks / TICK


def tree_size(root: str) -> tuple[int, int]:
    """(top-level directories, bytes of every file) under root."""
    dirs = sum(e.is_dir() for e in os.scandir(root))
    size = 0
    for base, _, files in os.walk(root):
        for name in files:
            try:
                size += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return dirs, size


def count_data_files(dirs: list[str]) -> int:
    """Files under dirs, less Hadoop's .crc and _SUCCESS markers."""
    return sum(not f.startswith((".", "_")) for d in dirs for _, _, files in os.walk(d) for f in files)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.workload = WORKLOADS[cfg["workload"]]
        self.data_dir = cfg["data_dir"]
        self.tmp = os.environ["TMPDIR"]
        self.spans = Spans()
        self.run_span = self.spans.open("run", None)
        self.passes: list[dict] = []
        self.peaks: dict[int, tuple[str, int]] = {}
        self.setups: list[float] = []
        self.layer: dict[str, float] = {}

    # --- set-up -----------------------------------------------------------
    def start_session(self) -> None:
        from stockmarket_bigdata_project_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=SESSION_CONF)
        self.sc = self.spark.sparkContext

    def prepare(self, parent: int) -> dict[str, float]:
        spent = {}
        for call in self.workload.prep:
            sid = self.spans.open(call.metric, parent)
            resolve(call)(self.spark, self.data_dir)
            spent[f"{call.metric}_s"] = self.spans.close(sid)
        return spent

    def first_setup(self) -> None:
        sid = self.spans.open("setup", self.run_span)
        s = self.spans.open("session.start", sid)
        self.start_session()
        self.spans.close(s)
        self.layer["session.start_s"] = time.time() - self.cfg["t_spawn"]
        self.layer.update(self.prepare(sid))
        self.spans.close(sid)
        self.setups.append(time.time() - self.cfg["t_spawn"])
        self.jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        self.calls = [(c, resolve(c)) for c in self.workload.calls]

    def resetup(self) -> None:
        """Stop the session and set up again in the same process: a new
        SparkContext in the running JVM, and the workload prep redone."""
        from stockmarket_bigdata_project_spark.llmdata import dedup, indexcache
        from stockmarket_bigdata_project_spark.streaming import pipelines

        dedup.clear_staged_memo()
        indexcache.clear_prepared_indexes()
        # the replay dir is memoized per process with no public reset
        pipelines._replay_cache.clear()
        sid = self.spans.open("resetup", self.run_span)
        self.spark.stop()
        self.start_session()
        self.prepare(sid)
        self.setups.append(self.spans.close(sid))

    # --- passes -------------------------------------------------------------
    def run_call(self, call: Call, fn, pass_sid: int, tag: str | None) -> dict:
        from pyspark.sql import Observation

        rec: dict = {"metric": call.metric}
        before = set(os.listdir(self.tmp)) if tag and call.count_files else None
        sid = self.spans.open(call.metric, pass_sid)
        if tag:
            self.sc.addJobTag(tag)
        try:
            if call.kind == "reset":
                fn()
            else:
                df = fn(self.spark, self.data_dir)
                obs = Observation()
                df.observe(obs, *fingerprint_exprs(df)).write.format("noop").mode("overwrite").save()
                rec.update(obs.get, dtypes=df.dtypes)
        except Exception:
            if call.kind == "reset":
                raise  # a benchmark fault, not an engine output to count
            traceback.print_exc()
            rec["error"] = True
        finally:
            if tag:
                self.sc.removeJobTag(tag)
            rec["s"] = self.spans.close(sid)
        if tag:
            rec.update(self.job_counts(tag))
            if before is not None:
                new = [os.path.join(self.tmp, d) for d in set(os.listdir(self.tmp)) - before]
                rec["files_written"] = count_data_files(new)
        return rec

    def job_counts(self, tag: str) -> dict:
        # statusTracker is fed by the asynchronous listener bus; drain it so
        # the counts are final
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = list(self.sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def run_pass(self, index: int, traced: bool) -> None:
        rec: dict = {"index": index, "traced": traced}
        jvm0, tree0, th0 = jvm_cpu(self.jvm_pid), session_cpu(), jvm_threads(self.jvm_pid)
        sid = self.spans.open(f"pass{index}", self.run_span)
        rec["calls"] = [
            self.run_call(call, fn, sid, f"pass{index}-{i}" if traced else None)
            for i, (call, fn) in enumerate(self.calls)
        ]
        rec["s"] = self.spans.close(sid)
        th1 = jvm_threads(self.jvm_pid)
        rec["cpu_s"] = session_cpu() - tree0
        rec["jvm_cpu_s"] = jvm_cpu(self.jvm_pid) - jvm0
        rec["jit_cpu_s"] = thread_cpu(th0, th1, JIT_THREADS)
        rec["gc_cpu_s"] = thread_cpu(th0, th1, GC_THREADS)
        rec["exec_cpu_s"] = rec["cpu_s"] - rec["jit_cpu_s"]
        rec["glue_s"] = rec["s"] - sum(c["s"] for c in rec["calls"])
        if traced:
            rt = self.sc._jvm.java.lang.Runtime.getRuntime()
            rec["heap_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if self.cfg["trace"]:
            rec["tmp_dirs"], rec["tmp_bytes"] = tree_size(self.tmp)
        sample_peak_rss(self.peaks)
        self.passes.append(rec)

    def run_passes(self) -> None:
        self.run_pass(0, traced=False)  # cold
        start = time.perf_counter()
        measured = 0
        min_measured = MIN_MEASURED + self.cfg["trace"]
        while True:
            warm = len(self.passes) - 1
            is_measured = warm >= WARMUP_PASSES
            # in a traced run measured passes alternate traced/untraced, so
            # the run can report its own tracing overhead
            traced = bool(self.cfg["trace"]) and is_measured and measured % 2 == 0
            self.run_pass(len(self.passes), traced)
            self.passes[-1]["measured"] = is_measured
            measured += is_measured
            elapsed = time.perf_counter() - start
            if measured >= min_measured and elapsed >= self.cfg["seconds"]:
                break
            if time.time() > self.cfg["pass_deadline"]:
                print("perfbench: pass deadline reached", file=sys.stderr)
                break

    # --- output check -----------------------------------------------------
    def oracle_fingerprints(self) -> dict:
        """Fingerprints of the registry's DuckDB oracle for each checked call,
        hashed by Spark with the same expressions as the engine's output.
        Row order does not change an oracle's result, so the oracle runs on
        the shipped tables and its fingerprint is cached per engine source."""
        cache = Path(self.cfg["oracle_cache"])
        if cache.exists():
            return json.loads(cache.read_text())
        import duckdb

        from stockmarket_bigdata_project_spark import registry
        from stockmarket_bigdata_project_spark.catalog import TABLES, table_path

        sql = registry.all_oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_path(self.cfg['shipped_dir'], t)}')")
        dtypes = {}
        for p in self.passes:
            for c in p["calls"]:
                if "dtypes" in c:
                    dtypes.setdefault(c["metric"], c["dtypes"])
        out = {}
        for call in stage_calls(self.cfg["workload"]):
            want = dtypes.get(call.metric)
            if want is None:
                continue  # the call never returned; it has failed already
            odf = self.spark.createDataFrame(con.execute(sql[call.function]).arrow())
            out[call.function] = oracle_fingerprint(odf, want)
        con.close()
        tmp = cache.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(out, indent=1))
        os.replace(tmp, cache)
        return out

    def check(self, oracle: dict) -> tuple[int, int]:
        attempted = failed = 0
        by_metric = {c.metric: c.function for c in stage_calls(self.cfg["workload"])}
        for p in self.passes:
            for c in p["calls"]:
                if c["metric"] not in by_metric:
                    continue
                attempted += 1
                want = oracle.get(by_metric[c["metric"]])
                got = {k: c.get(k) for k in ("rows", "hash")}
                c["ok"] = bool(want and not c.get("error")
                               and [list(t) for t in c["dtypes"]] == want["dtypes"]
                               and got == {"rows": want["rows"], "hash": want["hash"]})
                if not c["ok"]:
                    failed += 1
                    print(f"perfbench: {c['metric']} pass {p['index']} failed the output "
                          f"check: got {got}, oracle {want}", file=sys.stderr)
        return attempted, failed

    # --- figures ------------------------------------------------------------
    def end_to_end(self, attempted: int, failed: int) -> dict:
        measured = [p["exec_cpu_s"] for p in self.passes if p.get("measured")]
        return {
            "setup_s": median(self.setups),
            "cold_exec_cpu_s": self.passes[0]["exec_cpu_s"],
            "pass_exec_cpu_s": median(measured),
            "peak_rss_mb": sum(kb for _, kb in self.peaks.values()) / 1024,
            "ok_share": (attempted - failed) / attempted,
        }

    def per_layer(self) -> dict:
        out = dict.fromkeys(per_layer_metrics(), 0.0)
        out.update(self.layer)
        traced = [p for p in self.passes if p.get("measured") and p["traced"]]
        untraced = [p for p in self.passes if p.get("measured") and not p["traced"]]
        for call in stage_calls(self.cfg["workload"]):
            recs = [c for p in traced for c in p["calls"] if c["metric"] == call.metric]
            out[f"{call.metric}_s"] = median([c["s"] for c in recs])
            for key, name in (("rows", "rows_out"), ("jobs", "jobs"),
                              ("stages", "stages"), ("tasks", "tasks")):
                out[f"{call.metric}.{name}"] = median([c[key] for c in recs if key in c])
            if call.count_files:
                out["sinks.files_written"] = median([c["files_written"] for c in recs])
        out["session.jvm_cpu_s"] = median([p["jvm_cpu_s"] for p in traced])
        out["session.jvm_gc_s"] = median([p["gc_cpu_s"] for p in traced])
        out["session.jit_cpu_s"] = median([p["jit_cpu_s"] for p in traced])
        out["session.cold_jit_cpu_s"] = self.passes[0]["jit_cpu_s"]
        out["session.heap_after_pass_mb"] = median([p["heap_mb"] for p in traced])
        out["pipeline.cold_wall_s"] = self.passes[0]["s"]
        out["pipeline.pass_wall_s"] = median([p["s"] for p in untraced])
        out["bench.glue_s"] = median([p["glue_s"] for p in untraced])
        grown = [(p["tmp_dirs"] - q["tmp_dirs"], p["tmp_bytes"] - q["tmp_bytes"])
                 for q, p in zip(self.passes, self.passes[1:]) if p.get("measured")]
        out["tmp.dirs_left"] = median([d for d, _ in grown])
        out["tmp.bytes_left"] = median([b for _, b in grown])
        out["trace.overhead_s"] = (median([p["s"] for p in traced])
                                   - median([p["s"] for p in untraced]))
        return out


def oracle_fingerprint(odf, want_dtypes: list) -> dict:
    """Cast the oracle's columns to the engine's types where both are of
    one family (integers, floats, decimals, timestamps); a column whose
    family differs keeps its type and so fails the dtype comparison."""
    from pyspark.sql import functions as F

    def family(t: str) -> str:
        for fam, members in (("int", ("tinyint", "smallint", "int", "bigint")),
                             ("float", ("float", "double"))):
            if t in members:
                return fam
        return t.split("(")[0].removesuffix("_ntz")

    have = dict(odf.dtypes)
    if set(have) != {name for name, _ in want_dtypes}:
        return {"dtypes": [list(t) for t in odf.dtypes], "rows": None, "hash": None}
    cols = []
    for name, typ in want_dtypes:
        c = F.col(f"`{name}`")
        cols.append(c.cast(typ).alias(name) if family(have[name]) == family(typ) else c)
    odf = odf.select(*cols)
    row = odf.agg(*fingerprint_exprs(odf)).collect()[0]
    return {"dtypes": [list(t) for t in odf.dtypes], "rows": row["rows"], "hash": row["hash"]}


def main() -> int:
    cfg = json.loads(Path(sys.argv[1]).read_text())
    run = Run(cfg)
    run.first_setup()
    run.run_passes()
    for _ in range(RESETUPS):
        run.resetup()
    sample_peak_rss(run.peaks)  # before DuckDB can add to this process's peak
    oracle = run.oracle_fingerprints()
    import pyspark

    env = {
        "java": run.sc._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "task_slots": run.sc.defaultParallelism,
    }
    run.spark.stop()
    attempted, failed = run.check(oracle)
    run.spans.close(run.run_span)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": run.end_to_end(attempted, failed),
        "per_layer": run.per_layer() if cfg["trace"] else None,
        "env": env,
        "setups_s": run.setups,
        "peak_rss_kb": sorted(run.peaks.values()),
        "passes": run.passes,
        "spans": run.spans.items if cfg["trace"] else None,
    }
    Path(sys.argv[2]).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
