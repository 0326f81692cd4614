"""Per-layer metrics of a traced run, from the Spark event log.

Every metric is reported on every workload; a layer the workload does not
run reports 0.  Values are medians over the traced warm operations (all
traced operations if none is warm), except ``trace.attributed_ratio``,
which is the smallest share of an operation's wall time attributed to a
named layer, ``trace.overhead_ratio`` (see ``per_layer``), and the
incremental rows, which come from the one traced incremental cycle.
"""

from __future__ import annotations

import os
import statistics
import time

import eventlog

from workloads import CATALOG_QUERIES

CATALOG_MODULES = ("catalog", "catalog_text", "catalog_vec", "catalog_more", "catalog_ivf")

PER_LAYER_UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.warm_workers_s": "s",
    "fixtures.corpus_gen_s": "s",
    "fixtures.gold_check_s": "s",
    "operators.extract_link.wall_s": "s",
    "operators.extract_link.task_s": "s",
    "operators.extract_link.cpu_s": "s",
    "operators.extract_link.gc_s": "s",
    "operators.extract_link.py_run_s": "s",
    "operators.extract_link.to_py_bytes": "B",
    "operators.extract_link.from_py_bytes": "B",
    "operators.extract_link.rows_out": "count",
    "operators.spans.propose_us_per_file": "us",
    "embed.embedder.embed_us_per_mention": "us",
    "embed.embedder.pair_cache_hit_ratio": "ratio",
    "pipeline.kg.surface_agg_s": "s",
    "pipeline.kg.surface_shuffle_bytes": "B",
    "pipeline.kg.triples_count_s": "s",
    "pipeline.kg.triples_count_to_py_bytes": "B",
    "pipeline.kg.cache_bytes": "B",
    "pipeline.kg.leaked_cache_bytes": "B",
    "operators.canonicalize.wall_s": "s",
    "operators.canonicalize.jobs": "count",
    "operators.canonicalize.task_s": "s",
    "operators.canonicalize.shuffle_write_bytes": "B",
    "operators.canonicalize.incremental_wall_s": "s",
    "pipeline.incremental.initial_s": "s",
    "pipeline.incremental.delta_s": "s",
    "pipeline.incremental.noop_resume_s": "s",
    "pipeline.incremental.entities_write_s": "s",
    "pipeline.incremental.triples_write_s": "s",
    "pipeline.incremental.read_back_s": "s",
    "pipeline.incremental.bytes_written": "B",
    "pipeline.incremental.files_written": "count",
    "pipeline.incremental.bytes_per_triple": "B",
    "pipeline.incremental.extract_skip_ratio": "ratio",
    "sources.iceberg.write_s": "s",
    "sources.iceberg.bytes_written": "B",
    "sources.iceberg.files_written": "count",
    "pipeline.manifest.filter_s": "s",
    "pipeline.manifest.commit_s": "s",
    "operators.topk.wall_s": "s",
    "operators.topk.task_s": "s",
    "operators.dedup.wall_s": "s",
    "operators.dedup.task_s": "s",
    **{f"plans.{q}.s": "s" for q in CATALOG_QUERIES},
    **{f"plans.{m}.{k}": u for m in CATALOG_MODULES
       for k, u in (("task_s", "s"), ("py_run_s", "s"), ("to_py_bytes", "B"),
                    ("shuffle_write_bytes", "B"))},
    "run.peak_mem_gb": "GB",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_s": "s",
    "trace.attributed_ratio": "ratio",
}


LOG_WAIT_S = 30.0


def single_log(eventlog_dir: str) -> str:
    """The one finished event log in ``eventlog_dir`` (after spark.stop())."""
    deadline = time.time() + LOG_WAIT_S
    while True:
        files = [f for f in os.listdir(eventlog_dir) if not f.startswith(".")]
        done = [f for f in files if not f.endswith(".inprogress")]
        if len(done) == 1:
            return os.path.join(eventlog_dir, done[0])
        if time.time() > deadline:
            raise RuntimeError(f"expected one finished event log in {eventlog_dir}, "
                               f"found {files}")
        time.sleep(0.1)


def _sum(stages, attr: str, scale: float = 1.0) -> float:
    return sum(getattr(s, attr) for s in stages) / scale


def op_rows(trace: eventlog.Trace, workload: str, op,
            driver: list) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer values of one traced operation, and its wall split
    (``driver``: the sampled driver intervals, see ``eventlog.split_wall``)."""
    prefix = f"{workload}/op{op.index}/"
    stages = eventlog.stages_for(trace, prefix)
    jobs = [j for j in trace.jobs.values() if (j.description or "").startswith(prefix)]
    walls, unattributed = eventlog.split_wall(trace, op.t0 * 1000, op.t1 * 1000, driver)

    def layer(name):
        return [s for s in stages if s.layer == name]

    def in_step(step):
        return [s for s in stages if s.description == prefix + step]

    out: dict[str, float] = {}
    x = layer("operators.extract_link")
    out.update({
        "operators.extract_link.wall_s": walls.get("operators.extract_link", 0.0),
        "operators.extract_link.task_s": _sum(x, "run_ms", 1e3),
        "operators.extract_link.cpu_s": _sum(x, "cpu_ns", 1e9),
        "operators.extract_link.gc_s": _sum(x, "gc_ms", 1e3),
        "operators.extract_link.py_run_s": _sum(x, "py_run_ms", 1e3),
        "operators.extract_link.to_py_bytes": _sum(x, "py_sent"),
        "operators.extract_link.from_py_bytes": _sum(x, "py_returned"),
        "operators.extract_link.rows_out": _sum(x, "udf_rows"),
    })
    agg = [s for s in in_step("run_kg_pipeline")
           if s.layer == "pipeline.kg" and s.shuffle_read_bytes > 0]
    steps = {s.name: s.t1 - s.t0 for s in op.steps}
    out.update({
        "pipeline.kg.surface_agg_s": _sum(agg, "wall_ms", 1e3),
        "pipeline.kg.surface_shuffle_bytes": _sum(agg, "shuffle_read_bytes"),
        "pipeline.kg.triples_count_s": steps.get("triples_count", 0.0),
        "pipeline.kg.triples_count_to_py_bytes": _sum(in_step("triples_count"), "py_sent"),
        "pipeline.kg.cache_bytes": op.counters.get("cache_bytes", 0.0),
        "pipeline.kg.leaked_cache_bytes": op.counters.get("leaked_cache_bytes", 0.0),
    })
    c = layer("operators.canonicalize")
    out.update({
        "operators.canonicalize.wall_s": walls.get("operators.canonicalize", 0.0),
        "operators.canonicalize.jobs": float(sum(
            1 for j in jobs if j.layer == "operators.canonicalize")),
        "operators.canonicalize.task_s": _sum(c, "run_ms", 1e3),
        "operators.canonicalize.shuffle_write_bytes": _sum(c, "shuffle_write_bytes"),
    })
    for op_layer in ("topk", "dedup"):
        name = f"operators.{op_layer}"
        out[f"{name}.wall_s"] = walls.get(name, 0.0)
        out[f"{name}.task_s"] = _sum(layer(name), "run_ms", 1e3)
    for q in CATALOG_QUERIES:
        out[f"plans.{q}.s"] = steps.get(q, 0.0)
    for m in CATALOG_MODULES:
        p = layer(f"plans.{m}")
        out[f"plans.{m}.task_s"] = _sum(p, "run_ms", 1e3)
        out[f"plans.{m}.py_run_s"] = _sum(p, "py_run_ms", 1e3)
        out[f"plans.{m}.to_py_bytes"] = _sum(p, "py_sent")
        out[f"plans.{m}.shuffle_write_bytes"] = _sum(p, "shuffle_write_bytes")
    out["trace.unattributed_s"] = unattributed
    out["trace.attributed_ratio"] = 1.0 - unattributed / op.wall if op.wall > 0 else 0.0
    return out, walls


def _union_s(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def incremental_rows(trace: eventlog.Trace, workload: str, driver: list, cycle,
                     info: dict) -> dict:
    """Per-layer values of the traced incremental cycle.  Writes, read
    backs and manifest filters are told apart by the directories their SQL
    execution writes and scans (the store's ``mentions``, ``entities``,
    ``triples`` and ``manifest``)."""
    prefix = f"{workload}/op{cycle.index}/"
    jobs = [j for j in trace.jobs.values() if (j.description or "").startswith(prefix)]
    walls, _ = eventlog.split_wall(trace, cycle.t0 * 1000, cycle.t1 * 1000, driver)

    def job_wall(pred) -> float:
        return _union_s((j.submit_ms, j.complete_ms) for j in jobs if pred(
            trace.writes.get(j.exec_id or "", set()), trace.scans.get(j.exec_id or "", set())))

    steps = {s.name: s.t1 - s.t0 for s in cycle.steps}
    store_b, store_f = info["store"]
    mentions_b, mentions_f = info["mentions"]
    return {
        "operators.canonicalize.incremental_wall_s": walls.get("operators.canonicalize", 0.0),
        "pipeline.incremental.initial_s": steps.get("initial", 0.0),
        "pipeline.incremental.delta_s": steps.get("delta", 0.0),
        "pipeline.incremental.noop_resume_s": steps.get("noop", 0.0),
        "pipeline.incremental.entities_write_s": job_wall(lambda w, s: "entities" in w),
        "pipeline.incremental.triples_write_s": job_wall(lambda w, s: "triples" in w),
        "pipeline.incremental.read_back_s": job_wall(
            lambda w, s: not w and bool(s) and s <= {"entities", "triples"}),
        "pipeline.incremental.bytes_written": store_b,
        "pipeline.incremental.files_written": store_f,
        "pipeline.incremental.bytes_per_triple": info["triples"][0] / max(
            info["triples_total"], 1),
        "pipeline.incremental.extract_skip_ratio": 1.0 - info["delta_extracted"] / max(
            info["n_repos"], 1),
        "sources.iceberg.write_s": job_wall(lambda w, s: "mentions" in w),
        "sources.iceberg.bytes_written": mentions_b,
        "sources.iceberg.files_written": mentions_f,
        "pipeline.manifest.filter_s": job_wall(lambda w, s: not w and "manifest" in s),
        "pipeline.manifest.commit_s": job_wall(lambda w, s: "manifest" in w),
    }


def per_layer(evfile: str, package_dir: str, workload: str, driver: list,
              traced_ops: list, untraced_ops: list, micro: dict[str, float],
              setup: dict[str, float],
              cycle=None) -> tuple[dict[str, float], list[dict]]:
    """The per-layer metrics, and each traced op's wall split by layer.

    ``untraced_ops`` ran after the traced ones, in a session without the
    event log; the first of them met a new SparkContext.  The overhead ratio
    compares ops that had at least two ops before them in the JVM and one
    in their SparkContext: traced ops from the third on, untraced ops from
    the second on."""
    trace = eventlog.load(evfile, package_dir)
    good = [o for o in traced_ops if o.ok]
    warm = [o for o in good if o.index > 0] or good
    split = [op_rows(trace, workload, o, driver) for o in good]
    rows = [r for o, (r, _) in zip(good, split) if o in warm]
    out = {m: 0.0 for m in PER_LAYER_UNITS}
    out.update(setup)
    out.update(micro)
    for m in rows[0] if rows else ():
        out[m] = statistics.median(r[m] for r in rows)
    if cycle is not None:
        out.update(incremental_rows(trace, workload, driver, *cycle))
    if rows:
        out["trace.attributed_ratio"] = min(r["trace.attributed_ratio"] for r in rows)
    traced = [o.wall for o in good if o.index >= 2]
    base = [o.wall for o in untraced_ops[1:] if o.ok]
    if traced and base:
        out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(base)
    walls = [{"op": o.index, "wall_s": o.wall, "layers": w}
             for o, (_, w) in zip(good, split)]
    return out, walls
