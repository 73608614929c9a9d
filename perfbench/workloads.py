"""The benchmark's workloads: which engine calls one pass makes, in order.

Calls are named as "module:function" under the engine package and resolved
only inside the worker process, so the runner can read this table without
importing pyspark.

A "stage" call returns a DataFrame. The worker forces it with a noop write,
fingerprints the rows on the way through, and compares the fingerprint with
the registry's DuckDB oracle for the function of the same name. A "reset"
call takes no arguments and clears an engine cache. Prep calls run once
before the first pass, as f(spark, sf_dir).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Call:
    metric: str  # per-layer metric stem, e.g. "gold.daily_features"
    target: str  # "module:function" under stockmarket_bigdata_project_spark
    # "stage": f(spark, sf_dir) -> DataFrame, forced and checked against the
    # oracle of the same name; "reset": f() -> None, a cache reset
    kind: str = "stage"
    count_files: bool = False  # count the data files the call leaves in TMPDIR

    @property
    def function(self) -> str:
        return self.target.split(":")[1]


@dataclass(frozen=True)
class Workload:
    calls: tuple[Call, ...]
    # Work done once before the first pass; part of setup_s.
    prep: tuple[Call, ...] = ()


WORKLOADS: dict[str, Workload] = {
    # The market medallion flow: replayed events -> silver windows -> gold ->
    # prediction (the Arrow/pandas-UDF boundary) -> dashboard. Never touches
    # llmdata.
    "market": Workload(
        prep=(Call("streaming.replay_dir", "streaming.pipelines:replay_dir"),),
        calls=(
            Call("streaming.window_counts", "streaming.pipelines:streaming_window_counts"),
            Call("gold.daily_features", "operators.gold:gold_daily_features"),
            Call("ml.predict_returns", "ml:predict_returns"),
            Call("serving.dashboard_snapshot", "serving:dashboard_snapshot"),
        ),
    ),
    # The LLM-curation flow with its staged memo cleared each pass, followed by
    # write-side calls that fit the run budget: a single-file export through
    # the sinks layer and the stored-index builds and probes. The partitioned
    # gold write and small-file compaction are left out: one call costs
    # 20-33 s and 5-9 s at any scale (they create 2,289 and ~700 files), more
    # than a run can afford.
    "curation": Workload(
        calls=(
            Call("dedup.clear_staged_memo", "llmdata.dedup:clear_staged_memo", kind="reset"),
            Call("dedup.dup_components", "llmdata.dedup:minhash_dup_components"),
            Call("corpus.clean", "llmdata.corpus:corpus_clean"),
            Call("decontam.overlap", "llmdata.decontam:decontam_overlap"),
            # re-reads the memoized components: the memo-hit path
            Call("corpus.training_manifest", "llmdata.corpus:training_manifest"),
            Call("sinks.single_file_export", "sources.sinks:single_file_export", count_files=True),
            Call("indexcache.clear", "llmdata.indexcache:clear_prepared_indexes", kind="reset"),
            Call("indexcache.dedup_build_probe", "llmdata.dedup:incremental_dedup_indexed"),
            Call("indexcache.decontam_build_probe", "llmdata.decontam:incremental_decontam_indexed"),
            Call("indexcache.dedup_probe", "llmdata.dedup:incremental_dedup_indexed"),
        ),
    ),
}


def stage_calls(workload: str) -> list[Call]:
    return [c for c in WORKLOADS[workload].calls if c.kind == "stage"]


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, for every workload: a
    workload reports 0 for the calls it does not make."""
    out = {"session.start_s": "s", "streaming.replay_dir_s": "s"}
    for wl in WORKLOADS:
        for c in stage_calls(wl):
            out[f"{c.metric}_s"] = "s"
            for count in ("rows_out", "jobs", "stages", "tasks"):
                out[f"{c.metric}.{count}"] = "count"
    out.update({
        "pipeline.cold_wall_s": "s",
        "pipeline.pass_wall_s": "s",
        "sinks.files_written": "count",
        "session.jvm_cpu_s": "s",
        "session.jvm_gc_s": "s",
        "session.jit_cpu_s": "s",
        "session.cold_jit_cpu_s": "s",
        "session.heap_after_pass_mb": "MB",
        "bench.glue_s": "s",
        "tmp.bytes_left": "bytes",
        "tmp.dirs_left": "count",
        "trace.overhead_s": "s",
    })
    return out


END_TO_END = {
    "setup_s": "s",
    "cold_exec_cpu_s": "s",
    "pass_exec_cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_share": "share",
}
