"""Per-layer counters of one measured operation, from Spark's event log
and from the operation's outputs on disk."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from perfbench import eventlog

# pipeline layer -> the stage outputs it writes under the op's workdir
LAYERS: dict[str, tuple[str, ...]] = {
    "ntriples": ("triples",),
    "entities": ("db2", "db3", "db4", "db5", "db6", "title_qid"),
    "validation": ("validated_category", "validated_list"),
    "enrich": ("all_info_category", "all_info_list"),
    "merge": ("merged", "lettered", "deduped"),
    "factory": ("merged_final",),
    "snapshot_diff": ("ops",),
}
# outputs whose row count is the layer's rows_out
LAYER_ROWS: dict[str, tuple[str, ...]] = {**LAYERS, "merge": ("deduped",)}
LAYER_FIELDS = (
    "wall_s", "eager_s", "driver_s", "jobs", "python_jobs", "tasks",
    "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_bytes", "rows_out",
)
PER_LAYER = tuple(f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS) + (
    "pipeline.wall_s",
    "pipeline.unattributed_s",
    "pipeline.unattributed_jobs",
    "pipeline.jobs",
    "pipeline.python_jobs",
    "enrich.labels_scored",
    "enrich.score_cache_hit_ratio",
    "snapshot_diff.changed_ratio",
    "session.start_s",
    "session.warmup_s",
    "trace.overhead_s",
)


def rows(workdir: str, name: str) -> int:
    """Rows of a stage output; 0 for an output the workload does not write."""
    path = f"{workdir}/{name}.parquet"
    return pq.ParquetDataset(path).read([]).num_rows if os.path.exists(path) else 0


def _labels(workdir: str) -> int:
    """Distinct member labels the enrich step looked up in the score cache."""
    labels: set[str] = set()
    for mode in ("category", "list"):
        path = f"{workdir}/all_info_{mode}.parquet"
        if os.path.exists(path):
            for chunk in pq.read_table(path, columns=["members"]).column("members").chunks:
                labels.update(chunk.flatten().field("curated").to_pylist())
    return len(labels)


def output_counters(op: dict, cache_before: int) -> dict[str, float]:
    """The counters read from the op's outputs."""
    workdir = op["workdir"]
    out: dict[str, float] = {
        f"{layer}.rows_out": sum(rows(workdir, n) for n in outs)
        for layer, outs in LAYER_ROWS.items()
    }
    labels = _labels(workdir)
    scored = rows(workdir, "score_cache") - cache_before
    out["enrich.labels_scored"] = scored
    out["enrich.score_cache_hit_ratio"] = (labels - scored) / labels if labels else 0.0
    mix = op["op_mix"]
    total = sum(mix.values())
    out["snapshot_diff.changed_ratio"] = (total - mix.get("noop", 0)) / total
    return out


def job_counters(log: eventlog.EventLog, op: dict) -> dict[str, float]:
    """The counters read from the op's job group in the event log.

    ``run_pipeline`` builds each stage and then writes it. A layer owns
    the jobs of its stage writes and the eager jobs its operators ran
    while the stage was being built, i.e. every job started after the
    previous stage write ended. ``wall_s`` is the layer's write time as
    ``run_pipeline`` reports it, ``eager_s`` the build time before each
    write, and ``pipeline.unattributed_s`` what neither covers.
    """
    jobs = [j for j in log.jobs.values() if j.group == op["group"]]
    layer_of = {o: layer for layer, outs in LAYERS.items() for o in outs}
    execs = {log.roots.get(j.execution_id, j.execution_id) for j in jobs if j.execution_id is not None}
    writes = sorted(
        (log.windows[e][1], log.windows[e][0], log.outputs[e])
        for e in execs
        if log.outputs.get(e) in layer_of and log.windows.get(e, (0, None))[1] is not None
    )
    eager = dict.fromkeys(LAYERS, 0.0)
    prev = op["start_ms"]
    for end_ms, start_ms, name in writes:
        eager[layer_of[name]] += max(0.0, start_ms - prev) / 1e3
        prev = end_ms
    by_layer: dict[str | None, list[eventlog.Job]] = {}
    for j in jobs:
        layer = layer_of.get(log.output_of(j) or "")
        if layer is None:
            layer = next((layer_of[n] for end_ms, _, n in writes if end_ms >= j.start_ms), None)
        by_layer.setdefault(layer, []).append(j)

    out: dict[str, float] = {}
    attributed = 0.0
    for layer, outs in LAYERS.items():
        if layer == "snapshot_diff":
            wall = op["ops_write_s"]
        else:
            wall = sum(op["stage_seconds"].get(o, 0.0) for o in outs)
        span = wall + eager[layer]
        attributed += span
        fields = eventlog.summarize(by_layer.get(layer, []), span)
        fields["wall_s"] = wall
        fields["eager_s"] = eager[layer]
        for k, v in fields.items():
            out[f"{layer}.{k}"] = v
    rest = by_layer.get(None, [])
    out["pipeline.wall_s"] = op["wall_s"]
    out["pipeline.unattributed_s"] = op["wall_s"] - attributed
    out["pipeline.unattributed_jobs"] = len(rest)
    out["pipeline.jobs"] = len(jobs)
    out["pipeline.python_jobs"] = sum(j.python for j in jobs)
    return out
