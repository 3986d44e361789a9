"""One workload process: set up, run operations in a closed loop, check
each against the planted answer, and (traced) read the event log into
per-layer counters.

``perfbench/run.py`` starts it as ``python -m perfbench.workload ARGS``,
with the repository root on ``PYTHONPATH`` so that Spark's Python
workers import the package too. ``ARGS`` is a JSON object. Its ``mode``
is ``prepare`` (build the day-1 state) or ``measure`` (run a workload).
The result is written as JSON to its ``result`` path.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import eventlog, layers
from perfbench.corpus import Corpus, Generator
from perfbench.proc import tree_cpu_s

# day 1 is one fixed corpus, built once per checkout; the run's seed
# picks what changes on day 2
DAY1_SEED = 20240101
MAX_MEMBERS = 10_000  # the oversize gate of operators/snapshot_diff.py
_START = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _START:.1f}s]: {msg}", flush=True)


def _write_table(path: str, names: list[str], types: list, rows: list[tuple], files: int) -> None:
    os.makedirs(path)
    step = -(-len(rows) // files) or 1
    for i in range(0, max(len(rows), 1), step):
        cols = list(zip(*rows[i:i + step])) or [[] for _ in names]
        table = pa.table({n: pa.array(c, type=t) for n, t, c in zip(names, types, cols)})
        pq.write_table(table, f"{path}/part-{i // step:03d}.parquet")


def write_inputs(corpus: Corpus, root: str) -> None:
    """The corpus as parquet tables; the big ones in one file per core so
    every input scan runs one task per core."""
    s, i64 = pa.string(), pa.int64()
    files = os.cpu_count() or 1
    _write_table(f"{root}/nt", ["value"], [s], [(x,) for x in corpus.nt_lines], files)
    _write_table(f"{root}/categorylinks", ["cl_from", "cl_to"], [i64, s], corpus.categorylinks, files)
    _write_table(f"{root}/pagelinks", ["pl_from", "pl_title"], [i64, s], corpus.pagelinks, files)
    _write_table(f"{root}/mapping", ["title", "wikipedia_id", "qid"], [s, i64, s], corpus.mapping, files)
    _write_table(f"{root}/qrank", ["id", "rank"], [s, i64], corpus.qrank, 1)
    _write_table(f"{root}/domains", ["name", "status"], [s, s], corpus.domains, 1)


def register_inputs(spark, root: str, previous: str | None):
    from collection_templates_spark.plans.pipeline import PipelineInputs

    def read(name):
        return spark.read.parquet(f"{root}/{name}")

    return PipelineInputs(
        nt_lines=read("nt"),
        categorylinks=read("categorylinks"),
        pagelinks=read("pagelinks"),
        mapping=read("mapping"),
        qrank=read("qrank"),
        domains=read("domains"),
        previous_snapshot=spark.read.parquet(previous) if previous else None,
        created_ms=1.0,
    )


def session(run_dir: str, trace: bool):
    from collection_templates_spark.session import get_spark

    conf = {"spark.local.dir": f"{run_dir}/spark-local", "spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(f"{run_dir}/eventlog")
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run_dir}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def warm_up(spark) -> None:
    """One tiny job, so the session has started its executor backend.
    The measured operation pays the rest of the cold start (JIT, code
    generation, Python workers), as a nightly job in a fresh process does."""
    spark.range(0, 16, 1, 1).count()


def docs_of(path: str) -> list[tuple[str, int, int, int]]:
    """(id, members_count, valid members, invalid members) per document."""
    t = pq.read_table(path, columns=["metadata", "template"])
    meta, template = t.column("metadata").combine_chunks(), t.column("template").combine_chunks()
    return list(
        zip(
            meta.field("id").to_pylist(),
            meta.field("members_count").to_pylist(),
            template.field("valid_members_count").to_pylist(),
            template.field("invalid_members_count").to_pylist(),
        )
    )


def planted_ops(day1: Corpus | None, day2: Corpus) -> dict[str, str]:
    """The op each document of a pipeline run should get. A document
    above the oversize gate gets no op at all."""
    out: dict[str, str] = {}
    for doc, (valid, invalid) in day2.expected.items():
        if valid > MAX_MEMBERS:
            continue
        if day1 is None or doc not in day1.expected:
            out[doc] = "insert"
        else:
            same = day1.members[doc] == day2.members[doc] and day1.expected[doc][1] == invalid
            out[doc] = "noop" if same else "update"
    for doc in day1.expected if day1 is not None else ():
        if doc not in day2.expected:
            out[doc] = "archive"
    return out


def verdict(workdir: str, want: dict[str, str], oversize: set[str], docs: list[tuple], errors: list[str]) -> dict:
    """Compare the op's upsert ops with the planted ones.

    An ``archive`` op for a document that is still present and above the
    oversize gate is the known snapshot-diff defect: it is counted under
    its own name and left out of the verdict.
    """
    t = pq.read_table(f"{workdir}/ops.parquet", columns=["id", "op"])
    ops = list(zip(t.column("id").to_pylist(), t.column("op").to_pylist()))
    defect = sorted(d for d, op in ops if op == "archive" and d in oversize)
    got = {d: op for d, op in ops if d not in defect}
    if len(got) + len(defect) != len(ops):
        errors.append("duplicate op ids")
    for d in sorted(set(got) | set(want)):
        if got.get(d) != want.get(d):
            errors.append(f"op {d}: {got.get(d)} != {want.get(d)}")
    mix: dict[str, int] = {}
    for _, op in ops:
        mix[op] = mix.get(op, 0) + 1
    h = hashlib.sha256()
    for row in sorted(docs) + sorted(ops):
        h.update(repr(row).encode())
    return {
        "correct": not errors,
        "errors": errors[:10],
        "oversize_archive": defect,
        "op_mix": mix,
        "hash": h.hexdigest()[:16],
    }


def check_pipeline(workdir: str, day1: Corpus | None, day2: Corpus) -> dict:
    """Compare a ``run_pipeline`` op's documents and ops with the planted
    answer."""
    docs = docs_of(f"{workdir}/merged_final.parquet")
    errors: list[str] = []
    got = {d: (v, i, n) for d, n, v, i in docs}
    if len(got) != len(docs):
        errors.append("duplicate document ids")
    want = {d: (v, i, v) for d, (v, i) in day2.expected.items()}
    for d in sorted(set(got) | set(want)):
        if got.get(d) != want.get(d):
            errors.append(f"doc {d}: (valid, invalid, members) {got.get(d)} != {want.get(d)}")
    oversize = {d for d, (_, _, n) in got.items() if n > MAX_MEMBERS}
    return verdict(workdir, planted_ops(day1, day2), oversize, docs, errors)


def copy_state(state: str, workdir: str) -> str:
    """A fresh copy of the day-1 snapshot and score cache: the refresh
    overwrites the cache in place, so a reused workdir would turn the
    next op into a different workload."""
    shutil.copytree(f"{state}/score_cache.parquet", f"{workdir}/score_cache.parquet")
    shutil.copytree(f"{state}/merged_final.parquet", f"{workdir}/previous_snapshot.parquet")
    return f"{workdir}/previous_snapshot.parquet"


class PipelineRefresh:
    """A day-2 ``run_pipeline`` on the day-1 snapshot and score cache; the
    seed moves member pages (see ``corpus.Generator.day2``)."""

    def __init__(self, run_dir: str, state: str, seed: int):
        gen = Generator(DAY1_SEED)
        self.day1, self.day2 = gen.day1(), gen.day2(seed)
        self.inputs_dir, self.state = f"{run_dir}/inputs", state
        write_inputs(self.day2, self.inputs_dir)
        self.members = len(self.day2.categorylinks) + len(self.day2.pagelinks)

    def set_up(self, spark) -> None:
        pass

    def register(self, spark, workdir: str) -> None:
        self.inputs = register_inputs(spark, self.inputs_dir, copy_state(self.state, workdir))

    def run(self, spark, workdir: str):
        from collection_templates_spark.plans.pipeline import run_pipeline

        result = run_pipeline(spark, self.inputs, workdir=workdir)
        self.stage_seconds = result["___stage_seconds"]
        return result["operations"]

    def check(self, workdir: str) -> dict:
        return check_pipeline(workdir, self.day1, self.day2)


class SnapshotDiff:
    """``produce_update_operations`` of day-2 documents against a day-1
    snapshot.

    The snapshot is the day-1 one plus ``COPIES - 1`` copies of each
    document at or under the oversize gate, under new ids (about 3,350
    documents), so one op is mostly diff work rather than job overhead.
    The seed picks a tenth of its documents to change their
    invalid-member count, 2% to disappear and 2% to come back under a
    new id.
    """

    COPIES = 8
    stage_seconds: dict[str, float] = {}

    def __init__(self, run_dir: str, state: str, seed: int):
        self.state_path = f"{state}/merged_final.parquet"
        self.previous_path = f"{run_dir}/previous.parquet"
        self.current_path = f"{run_dir}/current.parquet"
        docs = docs_of(self.state_path)
        self.oversize = {d for d, n, _, _ in docs if n > MAX_MEMBERS}
        small = sorted(
            d if r == 0 else f"{d}-{r}"
            for d, n, _, _ in docs
            if n <= MAX_MEMBERS
            for r in range(self.COPIES)
        )
        n_changed, n_moved = len(small) // 10, len(small) // 50
        picks = random.Random(seed).sample(small, n_changed + 2 * n_moved)
        self.changed = picks[:n_changed]
        self.dropped = picks[n_changed:n_changed + n_moved]
        self.added = picks[n_changed + n_moved:]
        self.want = dict.fromkeys(small, "noop")
        self.want.update(dict.fromkeys(self.changed, "update"))
        self.want.update(dict.fromkeys(self.dropped, "archive"))
        self.want.update({f"N{d}": "insert" for d in self.added})

    def set_up(self, spark) -> None:
        """Writes both sides with Spark, registers them, and runs one
        untimed op so the measured ones start warm."""
        from pyspark.sql import functions as F

        day1 = spark.read.parquet(self.state_path)
        doc_id, template = F.col("metadata.id"), F.col("template")
        small = day1.filter(F.col("metadata.members_count") <= MAX_MEMBERS)
        prev = day1
        for r in range(1, self.COPIES):
            prev = prev.unionByName(
                small.withColumn("metadata", F.col("metadata").withField("id", F.concat(doc_id, F.lit(f"-{r}"))))
            )
        prev.write.parquet(self.previous_path)
        prev = spark.read.parquet(self.previous_path)
        current = prev.filter(~doc_id.isin(*self.dropped)).withColumn(
            "template",
            F.when(
                doc_id.isin(*self.changed),
                template.withField("invalid_members_count", template["invalid_members_count"] + 1),
            ).otherwise(template),
        )
        copies = prev.filter(doc_id.isin(*self.added)).withColumn(
            "metadata", F.col("metadata").withField("id", F.concat(F.lit("N"), doc_id))
        )
        current.unionByName(copies).write.parquet(self.current_path)
        self.members = sum(v + i for _, _, v, i in docs_of(self.current_path))
        self.previous, self.current = prev, spark.read.parquet(self.current_path)
        self.run(spark, "").write.format("noop").mode("overwrite").save()

    def register(self, spark, workdir: str) -> None:
        pass

    def run(self, spark, workdir: str):
        from collection_templates_spark.operators.snapshot_diff import produce_update_operations

        return produce_update_operations(self.current, self.previous)

    def check(self, workdir: str) -> dict:
        return verdict(workdir, self.want, self.oversize, [], [])


WORKLOADS = {"pipeline_refresh": PipelineRefresh, "snapshot_diff": SnapshotDiff}


def prepare(args: dict) -> dict:
    """Build the day-1 state (snapshot and score cache) with the package
    itself, and check it against the planted answer."""
    from collection_templates_spark.plans.pipeline import run_pipeline

    run_dir, state = args["run_dir"], args["state"]
    corpus = Generator(DAY1_SEED).day1()
    write_inputs(corpus, f"{run_dir}/inputs")
    spark = session(run_dir, trace=False)
    tmp = state + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    result = run_pipeline(spark, register_inputs(spark, f"{run_dir}/inputs", None), workdir=tmp)
    result["operations"].write.parquet(f"{tmp}/ops.parquet")
    spark.stop()
    checked = check_pipeline(tmp, None, corpus)
    if not checked["correct"]:
        return {"ok": False, "errors": checked["errors"]}
    for name in os.listdir(tmp):
        if name not in ("merged_final.parquet", "score_cache.parquet"):
            shutil.rmtree(f"{tmp}/{name}")
    os.rename(tmp, state)
    return {"ok": True}


def measure(args: dict) -> dict:
    run_dir, trace = args["run_dir"], args["trace"]
    workload = WORKLOADS[args["workload"]](run_dir, args["state"], args["seed"])

    # set-up: session (launching the JVM), a one-job warm-up, and input
    # registration
    t_setup = time.perf_counter()
    spark = session(run_dir, trace)
    start_s = time.perf_counter() - t_setup
    warm_up(spark)
    warmup_s = time.perf_counter() - t_setup - start_s
    workload.set_up(spark)
    os.makedirs(f"{run_dir}/op0")
    workload.register(spark, f"{run_dir}/op0")
    setup_s = time.perf_counter() - t_setup
    _log(f"set up in {setup_s:.1f}s")

    cache_before = layers.rows(f"{run_dir}/op0", "score_cache")
    sc = spark.sparkContext
    ops: list[dict] = []
    measured = 0.0
    while not ops or measured < args["seconds"]:
        group = f"op{len(ops)}"
        workdir = f"{run_dir}/{group}"
        if ops:
            os.makedirs(workdir)
            workload.register(spark, workdir)
        sc.setJobGroup(group, f"{args['workload']} {group}")
        start_ms = time.time() * 1e3
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        diff = workload.run(spark, workdir)
        t1 = time.perf_counter()
        diff.write.parquet(f"{workdir}/ops.parquet")
        t2 = time.perf_counter()
        cpu = tree_cpu_s(os.getpid()) - cpu0
        measured += t2 - t0
        _log(f"{group} took {t2 - t0:.1f}s")
        ops.append(
            {
                "group": group,
                "workdir": workdir,
                "start_ms": start_ms,
                "wall_s": t2 - t0,
                "cpu_s": cpu,
                "ops_write_s": t2 - t1,
                "stage_seconds": workload.stage_seconds,
                **workload.check(workdir),
            }
        )

    hashes = sorted({op["hash"] for op in ops})
    out = {
        "ok": True,
        "correct": all(op["correct"] for op in ops) and len(hashes) == 1,
        "attempted": len(ops),
        "failed": sum(not op["correct"] for op in ops),
        "errors": [e for op in ops for e in op["errors"]][:10],
        "oversize_archive": ops[0]["oversize_archive"],
        "op_mix": ops[0]["op_mix"],
        "hash": hashes,
        "setup_s": setup_s,
        "wall_s": statistics.median(op["wall_s"] for op in ops),
        "cpu_s": statistics.median(op["cpu_s"] for op in ops),
        "members": workload.members,
    }
    if not trace:
        spark.stop()
        return out

    t_trace = time.perf_counter()
    app = sc.applicationId
    spark.stop()  # closes the event log
    log = eventlog.parse(f"{run_dir}/eventlog/{app}")
    per_op = [{**layers.output_counters(op, cache_before), **layers.job_counters(log, op)} for op in ops]
    per_layer = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
    per_layer["session.start_s"] = start_s
    per_layer["session.warmup_s"] = warmup_s
    per_layer["trace.overhead_s"] = time.perf_counter() - t_trace
    out["per_layer"] = {k: per_layer[k] for k in layers.PER_LAYER}
    return out


def main() -> int:
    args = json.loads(sys.argv[1])
    result = prepare(args) if args["mode"] == "prepare" else measure(args)
    with open(args["result"], "w") as f:
        json.dump(result, f)
    return 0 if result.get("ok") else 1


if __name__ == "__main__":
    raise SystemExit(main())
