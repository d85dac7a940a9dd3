"""Self-tests of the harvest benchmark.

    python3 -m pytest perfbench -q

The fast tests pin the event-log fold, the oracle and BENCHMARK.json's
agreement with the code. The tiny-size tests run every workload end
to end (one process per run, under a minute each): every end-to-end
metric appears with its unit, no call fails and no process the run
started outlives it, and in the traced run every layer that runs on the
workload reports Spark jobs and executor time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

# class attributes overridden for the tiny runs
TINY = {
    "HarvestCold": {"pages": 300},
    "HarvestRecrawl": {"pages": 300},
    "FrontierSparse": {"listed_urls": 6_000, "child_urls": 1_000,
                       "broadcast_max_rows": 3_000},
    "StreamDrops": {"pages": 200},
}
# layers the traced run of each workload must show working
RUNS_ON = {
    "harvest_cold": ("frontier", "fetch", "extract", "dedup", "sketch",
                     "prov", "metrics", "lake"),
    "harvest_recrawl": ("frontier", "fetch", "extract", "dedup", "sketch",
                        "prov", "metrics", "lake"),
    "frontier_sparse": ("frontier", "fetch", "extract", "dedup", "sketch",
                        "prov", "metrics", "lake"),
    "stream_drops": ("stream",),
}


def _job_start(job, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}


def _task_end(stage, run_ms, py_ms=0, sent=0, back=0, shuffle=0):
    accums = [{"Name": "time to run Python workers", "Update": str(py_ms)},
              {"Name": "data sent to Python workers", "Update": str(sent)},
              {"Name": "data returned from Python workers", "Update": str(back)}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": accums},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 2e8,
                             "JVM GC Time": 5, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_fold_charges_tasks_to_their_job_group(tmp_path):
    tracer = layers.Tracer(None)
    tracer.extra_groups["query-run-id"] = "stream"
    events = [
        _job_start(0, "perfbench-layer-extract", [0, 1]),
        _task_end(0, 1500, py_ms=1200, sent=100, back=300),
        _task_end(1, 500, shuffle=64),
        _job_start(1, "untimed-check", [2]),
        _task_end(2, 9000),
        _job_start(2, "query-run-id", [3]),
        _task_end(3, 250),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    folded = layers.fold_event_log(str(log), tracer.layer_of)
    assert set(folded) == {"extract", "stream"}
    ex = folded["extract"]
    assert ex["jobs"] == 1
    assert ex["exec_run_s"] == pytest.approx(2.0)
    assert ex["jvm_cpu_s"] == pytest.approx(0.4)
    assert ex["gc_s"] == pytest.approx(0.01)
    assert ex["py_s"] == pytest.approx(1.2)
    assert (ex["py_bytes_in"], ex["py_bytes_out"], ex["shuffle_bytes"]) == (100, 300, 64)
    assert folded["stream"]["exec_run_s"] == pytest.approx(0.25)


def test_layer_metrics_report_every_name_with_zero_for_idle_layers():
    tracer = layers.Tracer(None)
    tracer.wall["fetch"], tracer.rows["fetch"] = 0.5, 10
    out = layers.layer_metrics(tracer, {"fetch": Counter(jobs=2)}, {}, 3.0, 2.5)
    assert list(out) == layers.metric_names()
    assert out["fetch.jobs"] == 2 and out["stream.jobs"] == 0
    assert out["trace.overhead_s"] == pytest.approx(0.5)
    assert out["trace.replay_sum_s"] == pytest.approx(0.5)


def test_robots_oracle_agrees_with_the_robots_parser():
    from gleaner_spark.core import robots as rb
    from gleaner_spark.core.extract import EARTHCUBE_AGENT
    from gleaner_spark.sources import corpus

    bodies = corpus.build_robots()
    for i in range(0, 3_000):
        url = corpus.url_for(i)
        host = corpus.HOSTS[i % corpus.N_SOURCES]
        body = bodies.get(host)
        allowed = body is None or rb.parse_robots_txt(body).find_group(
            EARTHCUBE_AGENT).test(url)
        assert inputs.robots_allowed(i) == allowed, url


def test_sitemap_index_children_respect_the_cap():
    from gleaner_spark.core import sitemap as sm

    bodies = inputs.sitemaps(list(range(2_000)), child_urls=150)
    index = bodies["https://geo0.example.org/sitemap.xml"]
    children = sm.parse_sitemap_index(index)
    assert len(children) == 3  # 400 locs of source 0 in children of ≤150
    assert sum(len(sm.parse_sitemap(bodies[c])) for c in children) == 400


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == layers.metric_names()
    for m in spec["per_layer"]:
        assert m["unit"] == layers.metric_unit(m["name"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def _tiny_run(workload: str, trace: int) -> dict:
    patch = "; ".join(
        f"workloads.{cls}.{attr} = {val!r}"
        for cls, attrs in TINY.items() for attr, val in attrs.items()
    )
    code = (
        f"import sys; sys.path[:0] = [{ROOT!r}, {HERE!r}]; import workloads, run; "
        f"{patch}; sys.exit(run.main(['--workload', {workload!r}, '--seed', '3', "
        f"'--seconds', '1', '--trace', '{trace}']))"
    )
    # In a session of its own, so every process it starts can be found
    # afterwards; output goes to files, since waiting for a pipe's end
    # would also wait for any process that inherited it.
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen([sys.executable, "-c", code], cwd=ROOT, text=True,
                                stdout=out, stderr=err, start_new_session=True)
        proc.wait(timeout=600)
        left = _session_members(proc.pid)
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert proc.returncode == 0, stderr[-3000:]
    assert left == [], f"processes outlived the run: {left}"
    return json.loads(stdout.strip().splitlines()[-1])


def _session_members(sid: int) -> list[int]:
    members = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            members.append(int(entry))
    return members


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_end_to_end_metrics(workload):
    out = _tiny_run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert {n: m["unit"] for n, m in out["metrics"].items()} == run.END_TO_END
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_traced_layers(workload):
    out = _tiny_run(workload, 1)
    assert out["correct"] and out["failed"] == 0
    metrics = {n: m["value"] for n, m in out["metrics"].items()}
    assert list(metrics) == layers.metric_names()
    for layer in RUNS_ON[workload]:
        assert metrics[f"{layer}.jobs"] > 0, layer
        assert metrics[f"{layer}.exec_run_s"] > 0, layer
        assert metrics[f"{layer}.wall_s"] > 0, layer
    idle = set(layers.LAYERS) - set(RUNS_ON[workload])
    assert all(metrics[f"{layer}.jobs"] == 0 for layer in idle)
