"""The benchmark's workloads.

Each workload makes its inputs from the seed (``prepare``), computes
the oracle once (``oracle``), builds its starting state and warms the
session (``warm``, then ``warm_calls`` untimed calls), then repeats the
timed public call (``call``) on a fresh copy of its starting lake and
checks every call's outputs untimed (``check``). ``replay`` runs the same work one layer at a time
for the traced run.

Sizes keep one run of a workload, session start included, under a
minute on a 4-vCPU box. At these sizes a harvest is dominated by the
fixed cost of its many small Spark jobs, which is where the pipeline
spends most of its time at this scale.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import pyarrow.dataset as pads

import inputs
import layers
from gleaner_spark.plans.lake import Lake
from gleaner_spark.plans.pipeline import run_harvest
from gleaner_spark.sources import corpus
from gleaner_spark.streaming.incremental import incremental_harvest

RUN_DATE = "2024-01-01"
IDENTITY_SAMPLE = 64  # stored documents compared byte for byte per call
PAGE_FILES = 8  # parquet files per pages snapshot, as corpus.build_pages partitions


@dataclass
class Outcome:
    """What one timed call did."""

    units: int  # frontier URLs; for the stream, page rows read
    extracted: int  # JSON-LD documents extracted
    lake_bytes: int  # bytes the call added to the lake, all tables
    errors: list[str] = field(default_factory=list)


def _snapshots(lake_dir: str, table: str) -> list[dict]:
    path = os.path.join(lake_dir, table, "_snapshots.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)


def _table(lake_dir: str, table: str, run_id: str | None = None, columns=None):
    """Rows of a lake table's published snapshots (all, or one run's),
    read with pyarrow straight from the manifest — independent of Spark."""
    dirs = [os.path.join(lake_dir, table, s["data_dir"])
            for s in _snapshots(lake_dir, table)
            if run_id is None or s["run_id"] == run_id]
    if not dirs:
        return None
    return pads.dataset(
        [pads.dataset(d, format="parquet", partitioning="hive") for d in dirs]
    ).to_table(columns=columns)


def _rows(lake_dir: str, table: str, run_id: str | None = None) -> int:
    t = _table(lake_dir, table, run_id, columns=[])
    return 0 if t is None else t.num_rows


def _check_lake(lake_dir: str, exp: inputs.Expected, run_id: str | None,
                prov_rows: int) -> list[str]:
    """Documents table holds exactly the oracle's keys, the run's prov
    rows equal the oracle's extracted count, and a sample of the run's
    stored jsonld is byte-identical to fixups applied to the page's
    expected extraction."""
    errors = []
    docs_rows = _rows(lake_dir, "documents")
    if docs_rows != len(exp.keys):
        errors.append(f"documents rows {docs_rows} != oracle {len(exp.keys)}")
    if prov_rows != exp.extracted:
        errors.append(f"prov rows {prov_rows} != oracle {exp.extracted}")
    stored = _table(lake_dir, "documents", run_id, columns=["url", "jsonld"])
    if exp.new_documents and stored is None:
        return errors + ["run stored no documents"]
    if stored is not None:
        urls, docs = stored.column("url").to_pylist(), stored.column("jsonld").to_pylist()
        step = max(1, len(urls) // IDENTITY_SAMPLE)
        for url, doc in list(zip(urls, docs))[::step]:
            if doc not in exp.docs_by_url.get(url, ()):
                errors.append(f"stored jsonld of {url} is not the expected extraction")
    return errors


def _check_counts(res, exp: inputs.Expected) -> list[str]:
    got = (res.frontier_size, res.fetched, res.extracted, res.new_documents,
           res.prov_records)
    want = (exp.frontier, exp.fetched, exp.extracted, exp.new_documents,
            exp.extracted)
    errors = [] if got == want else [
        f"(frontier, fetched, extracted, new, prov) {got} != oracle {want}"]
    return errors + [f"harvest error: {e}" for e in res.errors]


class _BatchHarvest:
    """A ``plans.pipeline.run_harvest`` of one pages snapshot."""

    name = ""
    run_id = "bench"
    broadcast_max_rows = 500_000  # run_harvest's default
    warm_calls = 1

    def __init__(self):
        self.sources = corpus.build_sources()
        self.robots = corpus.build_robots()

    def _harvest(self, spark, lake_dir: str, pages_dir: str, sitemaps: dict, run_id: str):
        return run_harvest(
            spark, Lake(lake_dir), self.sources, spark.read.parquet(pages_dir),
            sitemaps, self.robots, run_id=run_id, run_date=RUN_DATE,
            broadcast_frontier_max_rows=self.broadcast_max_rows,
        )

    def start_lake(self, ws: str) -> str | None:
        """Directory copied as each call's starting lake (None: empty)."""
        return None

    def call(self, spark, lake_dir: str):
        return self._harvest(spark, lake_dir, self.pages_dir, self.sitemaps, self.run_id)

    def check(self, lake_dir: str, res, base_bytes: int) -> Outcome:
        errors = _check_counts(res, self.exp) + _check_lake(
            lake_dir, self.exp, self.run_id, _rows(lake_dir, "prov", self.run_id))
        return Outcome(res.frontier_size, res.extracted,
                       layers.tree_stats(lake_dir)[1] - base_bytes, errors)

    def warm(self, spark, ws: str) -> list[str]:
        return []

    def replay(self, spark, tracer: layers.Tracer, lake_dir: str) -> tuple[dict, list[str]]:
        got = layers.replay_harvest(
            spark, tracer, Lake(lake_dir), self.sources, spark.read.parquet(self.pages_dir),
            self.sitemaps, self.robots, self.run_id, RUN_DATE, self.broadcast_max_rows,
        )
        exp = self.exp
        want = dict(frontier=exp.frontier, fetched=exp.fetched, extracted=exp.extracted,
                    new_documents=exp.new_documents, prov=exp.extracted)
        errors = [f"replay {k} {got[k]} != oracle {v}" for k, v in want.items() if got[k] != v]
        ratios = dict(got["ratios"])
        ratios["frontier.robots_dropped"] = self.listed - exp.frontier
        return ratios, errors + _check_lake(lake_dir, exp, self.run_id, got["prov"])


class HarvestCold(_BatchHarvest):
    """First harvest of a pages snapshot into an empty lake; the
    frontier is the snapshot, so fetch_pages broadcasts it."""

    name = "harvest_cold"
    run_id = "cold"
    pages = 4_000

    def prepare(self, ws: str, seed: int) -> None:
        lo = inputs.window_start(seed)
        self.idx = list(range(lo, lo + self.pages))
        self.pages_dir = os.path.join(ws, "pages")
        inputs.write_pages(self.pages_dir, self.idx, PAGE_FILES)
        self.sitemaps = inputs.sitemaps(self.idx)
        self.listed = len(self.idx)

    def oracle(self) -> None:
        docs = {i: inputs.page_documents(i) for i in self.idx}
        self.exp = inputs.expect(self.idx, set(self.idx), docs)


class HarvestRecrawl(_BatchHarvest):
    """Second harvest into a lake that already holds a first one; the
    second snapshot overlaps the first by 80 % and adds 20 % new pages."""

    name = "harvest_recrawl"
    run_id = "recrawl"
    pages = 4_000
    # after the first harvest, which seeds the lake, one recrawl, so the
    # timed calls take a warm recrawl path (seen set, sketch, anti-join)
    warm_calls = 1

    def prepare(self, ws: str, seed: int) -> None:
        lo = inputs.window_start(seed)
        self.first = list(range(lo, lo + self.pages))
        shift = self.pages // 5
        self.second = list(range(lo + shift, lo + shift + self.pages))
        self.first_dir = os.path.join(ws, "pages-first")
        self.pages_dir = os.path.join(ws, "pages-second")
        inputs.write_pages(self.first_dir, self.first, PAGE_FILES)
        inputs.write_pages(self.pages_dir, self.second, PAGE_FILES)
        self.first_sitemaps = inputs.sitemaps(self.first)
        self.sitemaps = inputs.sitemaps(self.second)
        self.listed = len(self.second)

    def oracle(self) -> None:
        docs = {i: inputs.page_documents(i) for i in sorted(set(self.first) | set(self.second))}
        self.exp_first = inputs.expect(self.first, set(self.first), docs)
        self.exp = inputs.expect(self.second, set(self.second), docs, seen=self.exp_first.keys)

    def warm(self, spark, ws: str) -> list[str]:
        """Seeds the starting lake with the first harvest."""
        self.seed_lake = os.path.join(ws, "seed-lake")
        res = self._harvest(spark, self.seed_lake, self.first_dir,
                            self.first_sitemaps, "first")
        return _check_counts(res, self.exp_first) + _check_lake(
            self.seed_lake, self.exp_first, "first", _rows(self.seed_lake, "prov", "first"))

    def start_lake(self, ws: str) -> str | None:
        return self.seed_lake


class FrontierSparse(_BatchHarvest):
    """Sitemap indexes listing many URLs over a snapshot holding 2 % of
    them; the frontier exceeds the broadcast cap."""

    name = "frontier_sparse"
    run_id = "sparse"
    listed_urls = 100_000
    child_urls = 5_000  # locs per child sitemap (the spec caps it at 50k)
    stride = 50  # one listed URL in 50 has a page in the snapshot
    # below the frontier size, so fetch_pages takes the shuffled-hash path
    broadcast_max_rows = 50_000

    def prepare(self, ws: str, seed: int) -> None:
        lo = inputs.window_start(seed)
        self.listed_idx = list(range(lo, lo + self.listed_urls))
        self.snapshot = self.listed_idx[::self.stride]
        self.pages_dir = os.path.join(ws, "pages")
        inputs.write_pages(self.pages_dir, self.snapshot, PAGE_FILES)
        self.sitemaps = inputs.sitemaps(self.listed_idx, child_urls=self.child_urls)
        self.listed = len(self.listed_idx)

    def oracle(self) -> None:
        docs = {i: inputs.page_documents(i) for i in self.snapshot}
        self.exp = inputs.expect(self.listed_idx, set(self.snapshot), docs)


class StreamDrops:
    """``incremental_harvest`` (available-now) over parquet page drops
    of ``files_per_drop`` files each, one micro-batch per drop, into an
    empty lake."""

    name = "stream_drops"
    pages = 1_000
    drops = 2
    files_per_drop = 4
    # one untimed stream after the batch harvest, so the timed calls find
    # the path warm; a second one made every run 10 s longer and moved
    # the median by under 5 %
    warm_calls = 1

    def __init__(self):
        self.sources = corpus.build_sources()
        self.robots = corpus.build_robots()

    def prepare(self, ws: str, seed: int) -> None:
        lo = inputs.window_start(seed)
        self.idx = list(range(lo, lo + self.pages))
        self.drops_dir = os.path.join(ws, "drops")
        per = -(-self.pages // self.drops)
        for d in range(self.drops):
            inputs.write_pages(self.drops_dir, self.idx[d * per:(d + 1) * per],
                               self.files_per_drop, prefix=f"drop-{d}")
        self.pages_dir = os.path.join(ws, "pages")
        inputs.write_pages(self.pages_dir, self.idx, PAGE_FILES)
        self.sitemaps = inputs.sitemaps(self.idx)

    def oracle(self) -> None:
        docs = {i: inputs.page_documents(i) for i in self.idx}
        self.exp = inputs.expect(self.idx, set(self.idx), docs)

    def warm(self, spark, ws: str) -> list[str]:
        """A batch harvest of the same pages, which warms the shared
        harvest kernel and gives the document count the stream must
        reproduce."""
        lake_dir = os.path.join(ws, "batch-lake")
        res = run_harvest(spark, Lake(lake_dir), self.sources,
                          spark.read.parquet(self.pages_dir), self.sitemaps,
                          self.robots, run_id="batch", run_date=RUN_DATE)
        self.batch_documents = res.new_documents
        errors = _check_counts(res, self.exp)
        shutil.rmtree(lake_dir)
        return errors

    def start_lake(self, ws: str) -> str | None:
        return None

    def _stream(self, spark, lake_dir: str, drops_dir: str, on_start=None):
        ckpt = lake_dir + ".ckpt"
        q = incremental_harvest(
            spark, Lake(lake_dir), self.sources, drops_dir, ckpt,
            run_date=RUN_DATE, robots_bodies=self.robots,
            max_files_per_trigger=self.files_per_drop,
        )
        if on_start is not None:
            on_start(q)
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def _check(self, lake_dir: str, batches: int) -> list[str]:
        errors = []
        docs = _rows(lake_dir, "documents")
        if docs != self.batch_documents:
            errors.append(f"stream documents {docs} != batch harvest {self.batch_documents}")
        if batches != self.drops:
            errors.append(f"{batches} micro-batches for {self.drops} drops")
        return errors + _check_lake(lake_dir, self.exp, None, _rows(lake_dir, "prov"))

    def call(self, spark, lake_dir: str):
        return self._stream(spark, lake_dir, self.drops_dir)

    def check(self, lake_dir: str, batches, base_bytes: int) -> Outcome:
        return Outcome(self.pages, _rows(lake_dir, "prov"),
                       layers.tree_stats(lake_dir)[1] - base_bytes,
                       self._check(lake_dir, len(batches)))

    def replay(self, spark, tracer: layers.Tracer, lake_dir: str) -> tuple[dict, list[str]]:
        def track(q):
            tracer.extra_groups[str(q.runId)] = "stream"

        files0, bytes0 = layers.tree_stats(lake_dir)
        with tracer.layer("stream"):
            batches = self._stream(spark, lake_dir, self.drops_dir, on_start=track)
        files1, bytes1 = layers.tree_stats(lake_dir)
        tracer.rows["stream"] += _rows(lake_dir, "documents")
        secs = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        ratios = {
            "stream.batches": len(batches),
            "stream.batch_s_first": secs[0] if secs else 0.0,
            "stream.batch_s_last": secs[-1] if secs else 0.0,
            "lake.files_written": files1 - files0,
            "lake.bytes_written": bytes1 - bytes0,
        }
        return ratios, self._check(lake_dir, len(batches))


WORKLOADS = {w.name: w for w in (HarvestCold, HarvestRecrawl, FrontierSparse, StreamDrops)}
