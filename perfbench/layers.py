"""Per-layer trace: a replay of the harvest one layer call at a time,
each under its own Spark job group, and a fold of Spark's event log
into per-layer counters keyed by that group.

The replay calls the package's public layer functions in the order
``plans.pipeline.run_harvest`` calls them (pages fetch mode), but
materializes each layer's output (persist + count) before the next
layer starts, so every Spark job belongs to exactly one layer. The
sum of the layer spans therefore exceeds the fused pipeline's
``run_s``; ``trace.replay_sum_s`` reports it beside ``run_s``.

Layer names are the modules/functions they time:

- ``frontier``  operators.frontier.build_frontier + schedule_fetches
- ``fetch``     operators.harvest.fetch_pages
- ``extract``   operators.harvest.extract_and_process
- ``dedup``     operators.harvest.dedup_new_documents (+ documents_table)
- ``sketch``    operators.harvest.load_seen_sketch / checkpoint_seen_sketch
- ``prov``      operators.harvest.prov_table
- ``metrics``   operators.harvest.metrics_from_processed
- ``lake``      plans.lake.LakeTable.append / append_local
- ``stream``    streaming.incremental.incremental_harvest, whole query
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from contextlib import contextmanager

from pyspark.sql import functions as F

LAYERS = ("frontier", "fetch", "extract", "dedup", "sketch", "prov",
          "metrics", "lake", "stream")
PY_LAYERS = ("frontier", "extract", "dedup", "sketch")
COUNTERS = ("wall_s", "exec_run_s", "jvm_cpu_s", "shuffle_bytes",
            "spill_bytes", "gc_s", "jobs", "rows_out")
PY_COUNTERS = ("py_s", "py_bytes_in", "py_bytes_out")
RATIOS = (
    "frontier.fetch_hit_ratio", "frontier.robots_dropped",
    "extract.docs_per_page", "extract.zero_doc_pages",
    "dedup.new_ratio",
    "lake.files_written", "lake.bytes_written",
    "stream.batches", "stream.batch_s_first", "stream.batch_s_last",
)
TRACE = ("trace.overhead_s", "trace.replay_sum_s")
_GROUP_PREFIX = "perfbench-layer-"
# SQL accumulables of the Python runner nodes (mapInPandas, pandas UDFs)
_PY_ACCUMS = {
    "time to run Python workers": "py_s",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}


def metric_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = [
        f"{layer}.{c}" for layer in LAYERS
        for c in COUNTERS + (PY_COUNTERS if layer in PY_LAYERS else ())
    ]
    return names + list(RATIOS) + list(TRACE)


_UNITS = {
    "wall_s": "s", "exec_run_s": "s", "jvm_cpu_s": "s", "gc_s": "s", "py_s": "s",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "py_bytes_in": "bytes",
    "py_bytes_out": "bytes", "bytes_written": "bytes",
    "fetch_hit_ratio": "ratio", "docs_per_page": "ratio", "new_ratio": "ratio",
    "batch_s_first": "s", "batch_s_last": "s", "overhead_s": "s", "replay_sum_s": "s",
}


def metric_unit(name: str) -> str:
    return _UNITS.get(name.split(".", 1)[1], "count")


class Tracer:
    """Wall-clock spans and output row counts per layer, plus the map
    from Spark job group to layer that the event-log fold needs."""

    def __init__(self, sc):
        self.sc = sc
        self.wall: Counter = Counter()
        self.rows: Counter = Counter()
        self.extra_groups: dict[str, str] = {}

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(_GROUP_PREFIX + name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self.sc.setJobGroup("perfbench", "untraced")

    def layer_of(self, group: str | None) -> str | None:
        if group is None:
            return None
        if group.startswith(_GROUP_PREFIX):
            return group[len(_GROUP_PREFIX):]
        return self.extra_groups.get(group)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(path: str, layer_of) -> dict[str, Counter]:
    """Sum task metrics per layer. ``SparkListenerJobStart`` carries the
    job group in its properties and lists the job's stages; each
    ``SparkListenerTaskEnd`` is then charged to its stage's layer.
    Stages of jobs outside every layer (warm-up, the timed calls, the
    benchmark's own checks) are ignored."""
    stage_layer: dict[int, str] = {}
    out: dict[str, Counter] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                layer = layer_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                if layer is None:
                    continue
                out.setdefault(layer, Counter())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer[sid] = layer
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if layer is None or not m:
                    continue
                c = out[layer]
                c["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = _PY_ACCUMS.get(acc.get("Name"))
                    if key is not None:
                        c[key] += _num(acc.get("Update"))
    for c in out.values():
        c["py_s"] /= 1e3  # the event log records SQL timing metrics in ms
    return out


def event_log_file(log_dir: str) -> str:
    """The one finished (non-``.inprogress``) log a stopped session left."""
    done = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(done) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {done}")
    return os.path.join(log_dir, done[0])


def tree_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def replay_harvest(spark, tracer: Tracer, lake, sources, pages,
                   sitemap_bodies: dict, robots_bodies: dict,
                   run_id: str, run_date: str, broadcast_max_rows: int) -> dict:
    """``run_harvest`` phases 1-2 in pages fetch mode, one layer call at
    a time. Returns the counts the output check compares with the
    oracle, plus the useful-work ratios measured at each layer."""
    from gleaner_spark.operators import harvest as hv
    from gleaner_spark.operators.frontier import build_frontier, schedule_fetches

    files0, bytes0 = tree_stats(lake.root)
    with tracer.layer("frontier"):
        frontier, _errors = build_frontier(spark, sources, sitemap_bodies, robots_bodies)
        frontier = schedule_fetches(frontier, scalable=True).persist()
        n_frontier = frontier.count()
    tracer.rows["frontier"] += n_frontier
    with tracer.layer("lake"):
        lake.table("frontier").append(
            frontier.withColumn("run_id", F.lit(run_id)), run_id=run_id)
    tracer.rows["lake"] += n_frontier
    frontier.unpersist()
    frontier = (lake.table("frontier").read(spark)
                .filter(F.col("run_id") == run_id).drop("run_id"))

    with tracer.layer("fetch"):
        fetched = hv.fetch_pages(
            frontier, pages,
            broadcast_frontier=0 < n_frontier <= broadcast_max_rows,
        ).persist()
        n_fetched = fetched.count()
    tracer.rows["fetch"] += n_fetched

    hw = {s.name: s.headless_wait for s in sources}
    with tracer.layer("extract"):
        processed = hv.extract_and_process(
            fetched, sources, hw, context_maps=None, emit_raw=False).persist()
        n_processed = processed.count()
    tracer.rows["extract"] += n_processed
    fetched.unpersist()
    docs_only = processed.filter(F.col("doc_idx") >= 0)

    seen_src = lake.table("documents").read(spark)
    seen = seen_src.select("source_name", "unique_id") if seen_src is not None else None
    with tracer.layer("sketch"):
        sk_entry = hv.load_seen_sketch(lake)
    sketch = (sk_entry[0] if seen is not None and sk_entry is not None
              and sk_entry[1] <= sk_entry[2] else None)
    cfiles = max(4, -(-spark.sparkContext.defaultParallelism // max(1, len(sources))))
    with tracer.layer("dedup"):
        new_docs = hv.documents_table(hv.dedup_new_documents(
            spark, docs_only.drop("jsonld", "page_bytes", "page_first"), seen,
            sketch=sketch, cluster_files=cfiles,
        )).persist()
        n_new = new_docs.count()
    tracer.rows["dedup"] += n_new
    with tracer.layer("lake"):
        snap = lake.table("documents").append(
            new_docs, run_id=run_id, partition_by=["source_name"],
            files_per_partition=0)
    tracer.rows["lake"] += n_new
    new_docs.unpersist()
    if n_new:
        key = F.concat_ws("/", "source_name", "unique_id").alias("seen_key")
        with tracer.layer("sketch"):
            snap_keys = spark.read.parquet(
                os.path.join(lake.table("documents").dir, snap["data_dir"])).select(key)
            all_keys = (lake.table("documents").read(spark).select(key)
                        if seen is not None else None)
            hv.checkpoint_seen_sketch(
                spark, lake, snap_keys, sk_entry, n_new, run_id,
                all_keys=all_keys, covers_snapshot_id=snap["snapshot_id"])
        tracer.rows["sketch"] += n_new

    with tracer.layer("metrics"):
        mrows = hv.metrics_from_processed(processed, run_id).collect()
    tracer.rows["metrics"] += len(mrows)
    with tracer.layer("lake"):
        lake.table("metrics").append_local([r.asDict() for r in mrows], run_id=run_id)
    tracer.rows["lake"] += len(mrows)
    extracted = sum(r["extracted"] or 0 for r in mrows)

    with tracer.layer("prov"):
        prov = hv.prov_table(docs_only, sources, "gleaner", run_date,
                             cluster_files=cfiles).persist()
        n_prov = prov.count()
    tracer.rows["prov"] += n_prov
    with tracer.layer("lake"):
        lake.table("prov").append(prov, run_id=run_id, partition_by=["source_name"],
                                  files_per_partition=0)
    tracer.rows["lake"] += n_prov
    prov.unpersist()
    processed.unpersist()

    files1, bytes1 = tree_stats(lake.root)
    return {
        "frontier": n_frontier, "fetched": n_fetched, "extracted": extracted,
        "new_documents": n_new, "prov": n_prov,
        "ratios": {
            "frontier.fetch_hit_ratio": n_fetched / n_frontier if n_frontier else 0.0,
            "extract.docs_per_page": extracted / n_fetched if n_fetched else 0.0,
            "extract.zero_doc_pages": n_processed - extracted,
            "dedup.new_ratio": n_new / extracted if extracted else 0.0,
            "lake.files_written": files1 - files0,
            "lake.bytes_written": bytes1 - bytes0,
        },
    }


def layer_metrics(tracer: Tracer, folded: dict[str, Counter], ratios: dict,
                  run_s_traced: float, run_s_untraced: float) -> dict[str, float]:
    """Flatten spans, folded counters and ratios into the per-layer
    metric dict; a layer that did not run on the workload reports 0."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        c = folded.get(layer, Counter())
        for name in COUNTERS:
            if name == "wall_s":
                v = tracer.wall[layer]
            elif name == "rows_out":
                v = tracer.rows[layer]
            else:
                v = c[name]
            out[f"{layer}.{name}"] = v
        if layer in PY_LAYERS:
            for name in PY_COUNTERS:
                out[f"{layer}.{name}"] = c[name]
    for name in RATIOS:
        out[name] = ratios.get(name, 0)
    out["trace.overhead_s"] = run_s_traced - run_s_untraced
    out["trace.replay_sum_s"] = sum(tracer.wall[layer] for layer in LAYERS)
    return out
