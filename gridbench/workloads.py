"""One benchmark run inside a Spark session: set up, measure one
workload, check it against DuckDB, and (traced) split it into layers.

``run.py`` launches this file in a child process with the pinned
environment; it writes its result as JSON to ``--out``. Every workload is
closed-loop with one client: the next operation starts when the previous
one has returned. The work per run is fixed by ``--seconds`` (never by the
clock), so every run of a workload does the same operations.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path
from urllib.parse import urlparse

import pyarrow.parquet as pq

import gen
import metrics
import oracle
from metrics import data_batches, state_update_batches, trigger_ms
from tracing import ProgressListener, Tracer, read_event_log

LAYERS = ("session", "sources", "streaming.replay", "streaming.rollup_stream",
          "operators.dashboard", "operators.rollup", "operators.history",
          "operators.dedup_index", "operators.ivf_index")


class Run:
    """State shared by a workload's phases: the session, the tracer, the
    listener, scratch dirs, and what the measured region recorded."""

    def __init__(self, spark, tracer: Tracer, listener: ProgressListener,
                 scratch: Path, seed: int, seconds: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.listener = listener
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.inputs: "list[Path]" = []
        self.samples: "dict[str, list[float]]" = {}
        self.values: "dict[str, float]" = {}
        self.attempted = 0
        self.failed = 0
        self.errors: "list[str]" = []
        # (name, wall seconds, progress events) of every streaming call
        # measured
        self.stream_calls: "list[tuple[str, float, list[dict]]]" = []
        self.n_queries = 0

    def timed(self, name: str, fn, layer: "str | None" = None):
        """Run one operation, append its wall time in ms to
        ``samples[name]``; an exception counts as a failed operation and
        returns None."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(name, layer=layer, op=True):
                out = fn()
        except Exception:  # the run goes on; the failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None
        self.samples.setdefault(name, []).append(
            (time.perf_counter() - t) * 1000.0)
        return out

    def streaming_call(self, name: str, fn, layer: str):
        """A timed operation that drains one streaming query; its progress
        events are kept with its wall time."""
        mark = self.listener.mark()
        out = self.timed(name, fn, layer)
        if out is None:
            return None  # counted as failed; its batches are not used
        self.n_queries += 1
        self.listener.quiesce(self.n_queries)
        self.stream_calls.append((name, self.samples[name][-1] / 1000.0,
                                  self.listener.since(mark)))
        return out

    def check(self, what: str, problem: "str | None") -> None:
        """Record a DuckDB check of one operation; a mismatch fails it."""
        if problem:
            self.failed += 1
            self.errors.append(f"{what}: {problem}")

    def dir(self, *parts: str) -> Path:
        p = self.scratch.joinpath(*parts)
        p.mkdir(parents=True, exist_ok=True)
        return p


# ---------------------------------------------------------------------- grid

class Grid:
    """The reference pipeline in one session, in two phases.

    Both phases read the reference's traffic: 1,100 houses x 9 appliances
    (9,900 meters, about the 10,000 appliances of its throughput figure),
    each reporting once every 3 s.

    Drain: the reference's Spark job as one long drain, the duty-cycle
    plan (10 min window, 2 min slide, 2 s watermark) over a readings
    backlog, one 39.6k-row file per micro-batch, parquet sink, flush
    sentinel. Per-batch work (state store, stateful shuffle, incremental
    planning) dominates; query start, staging and readback are paid once.

    Serve: the Druid half, writes beside reads on one table. A cycle drops
    the next readings file into a live source dir, ticks the standing
    rollup stream (appending newly closed windows to the (date, hour)
    cube), then refreshes every dashboard tile. Every tick restarts a
    query, so per-query fixed cost dominates; every refresh is a chain of
    sub-second jobs, where driver planning and listing dominate."""

    HOUSES = 1100
    DRAIN_SECONDS_PER_FILE = 12    # 9,900 meters x 12 s / 3 s = 39.6k rows
    SERVE_SECONDS_PER_FILE = 3     # 9,900 meters x 3 s / 3 s = 9.9k rows
    BACKLOG = 2
    WARM_FILES = 2
    slots = {"batch_ms": "drain_batch_ms", "ingest_ms": "tick_ms",
             "query_ms": "refresh_ms"}

    def __init__(self, run: Run) -> None:
        self.run = run
        self.n_files = max(4, run.seconds - 2)
        self.cycles = max(3, run.seconds // 3)

    def generate(self) -> None:
        r = self.run
        self.src = r.dir("inputs", "readings")
        self.files = gen.readings_files(
            self.src, r.seed, self.n_files, self.HOUSES,
            self.DRAIN_SECONDS_PER_FILE)
        self.drain_rows = sum(pq.read_metadata(f).num_rows
                              for f in self.files)
        # full-size warm files: the drain's per-row path is still getting
        # faster (JIT) for several full batches after a small warm-up
        self.warm_src = r.dir("inputs", "warm")
        gen.readings_files(self.warm_src, r.seed + 1, self.WARM_FILES,
                           self.HOUSES, self.DRAIN_SECONDS_PER_FILE)
        self.serve_files = gen.readings_files(
            r.dir("inputs", "serve"), r.seed + 2, self.BACKLOG + self.cycles,
            self.HOUSES, self.SERVE_SECONDS_PER_FILE)
        r.inputs = [*self.files, *self.serve_files]
        self.split_houses = sorted({str((r.seed * 7 + 3 * i)
                                        % self.HOUSES)
                                    for i in range(5)})
        self.live = r.dir("work", "live")
        self.cube = r.scratch / "work" / "cube"
        self.ck = r.scratch / "work" / "ck"
        self.delivered: "list[Path]" = []
        # per measured cycle: tick succeeded, readings delivered, cube
        # files after the tick, tiles of the refresh
        self.ticked: "list[bool]" = []
        self.delivered_at: "list[list[Path]]" = []
        self.cube_after: "list[list[Path]]" = []
        self.tiles: "list[dict | None]" = []

    # drain -----------------------------------------------------------------

    def _drain(self, src: Path, tag: str):
        from insight_de_smart_grid_spark.sources.tables import (
            events_to_readings,
        )
        from insight_de_smart_grid_spark.streaming.duty_cycle_stream import (
            duty_cycle_stream_plan,
        )
        from insight_de_smart_grid_spark.streaming.replay import (
            replay_parquet_stream,
        )
        work = self.run.dir("work", tag)
        return replay_parquet_stream(
            self.run.spark, str(src),
            lambda s: duty_cycle_stream_plan(
                events_to_readings(s), window="10 minutes",
                slide="2 minutes", watermark="2 seconds"),
            query_name=f"gridbench_{tag}",
            checkpoint_dir=str(work / "ck"), out_dir=str(work / "sink"),
            flush_sentinel=True, max_files_per_trigger=1)

    # serve -----------------------------------------------------------------

    def _drop(self, f: Path) -> None:
        shutil.copyfile(f, self.live / f.name)
        self.delivered.append(f)

    def _tick(self):
        from insight_de_smart_grid_spark.sources.tables import (
            events_to_readings,
        )
        from insight_de_smart_grid_spark.streaming.rollup_stream import (
            materialize_rollup_stream,
        )
        return materialize_rollup_stream(
            self.run.spark, str(self.live), events_to_readings,
            str(self.cube), str(self.ck))

    def _refresh(self) -> "dict[str, list[tuple]]":
        from insight_de_smart_grid_spark.operators import dashboard as dash
        from insight_de_smart_grid_spark.operators import history as hist
        from insight_de_smart_grid_spark.operators import rollup
        from insight_de_smart_grid_spark.sources.tables import (
            events_to_readings,
        )
        r = self.run
        spark = r.spark
        with r.tracer.span("read_cube_and_readings", layer="sources"):
            # spark.read.parquet, not sources.pq.read_parquet: the cube is
            # appended to in place, and read_parquet's cache keys on the
            # top-level dir mtime, which a tick into an existing (date,
            # hour) partition does not change
            cube = spark.read.parquet(str(self.cube))
            raw = events_to_readings(spark.read.parquet(str(self.live)))
        tiles = {
            "total_power": ("operators.dashboard",
                            lambda: dash.total_power(cube)),
            "top_houses": ("operators.dashboard",
                           lambda: dash.top_k_by_measure(
                               cube, "house_id", "sum_power")),
            "top_appliances": ("operators.dashboard",
                               lambda: dash.top_k_by_measure(
                                   cube, "appliance_id", "sum_power")),
            "time_series": ("operators.dashboard",
                            lambda: dash.time_series(
                                cube, "1 minute", "window_start",
                                "sum_power")),
            "reaggregate": ("operators.rollup",
                            lambda: rollup.reaggregate(
                                cube, ("house_id", "appliance_id"))),
            "filtered_split": ("operators.dashboard",
                               lambda: dash.filtered_split(
                                   raw, self.split_houses)),
            "m4_downsample": ("operators.dashboard",
                              lambda: dash.m4_downsample(raw)),
            "history": ("operators.history", lambda: hist.history(raw)),
        }
        out = {}
        for name, (layer, build) in tiles.items():
            with r.tracer.span(name, layer=layer):
                out[name] = [tuple(x) for x in build().collect()]
        return out

    # phases ----------------------------------------------------------------

    def warm(self) -> None:
        """A short drain, the backlog tick and a first refresh: every code
        path the measured region runs, before it is timed."""
        r = self.run
        with r.tracer.span("warm_drain", layer="streaming.replay", op=True):
            self._drain(self.warm_src, "warm").count()
        for f in self.serve_files[:self.BACKLOG]:
            self._drop(f)
        with r.tracer.span("backlog_tick", layer="streaming.rollup_stream",
                           op=True):
            self._tick()
        r.n_queries += 2
        r.listener.quiesce(r.n_queries)
        with r.tracer.span("warm_refresh", op=True):
            self._refresh()

    def measure(self) -> None:
        r = self.run
        out = r.streaming_call("drain", lambda: self._drain(self.src,
                                                            "drain"),
                               "streaming.replay")
        if out is not None:
            events = r.stream_calls[-1][2]
            r.samples["drain_batch_ms"] = trigger_ms(
                state_update_batches(events))
            r.values["rows_per_s"] = self.drain_rows / (
                r.samples["drain"][0] / 1000.0)
        # the files the returned table reads, checked by DuckDB directly
        self.drained = None if out is None else [
            urlparse(u).path for u in out.inputFiles()]
        for f in self.serve_files[self.BACKLOG:]:
            self._drop(f)
            self.ticked.append(r.streaming_call(
                "tick_ms", self._tick, "streaming.rollup_stream") is not None)
            self.delivered_at.append(list(self.delivered))
            self.cube_after.append(sorted(self.cube.rglob("*.parquet")))
            self.tiles.append(r.timed("refresh_ms", self._refresh))

    def verify(self, con) -> None:
        r = self.run
        if self.drained is not None:
            r.check("duty cycle", oracle.sliding_duty_cycle(
                con, self.files, self.drained))
        for ticked, delivered, cube_files, tiles in zip(
                self.ticked, self.delivered_at, self.cube_after, self.tiles):
            if ticked:
                r.check("rollup cube",
                        oracle.rollup_cube(con, delivered, cube_files))
            if tiles is not None:
                r.check("refresh", oracle.refresh(con, delivered, tiles,
                                                  self.split_houses))


# ----------------------------------------------------------- curation_ingest

class CurationIngest:
    """The curation extension: streaming ingest into the MinHash dedup
    index and the IVF vector index over a seeded corpus (a quarter of the
    docs are near-duplicates), then probe rounds on the finished indexes.
    The only workload that drives ``index_base`` and ``index_manifest``
    (staging, manifest commits, segment reads)."""

    DOCS = 800
    DUP_SHARE = 0.25
    VECS = 1500
    PROBE_DOCS = 40
    PROBE_VECS = 50
    PROBE_ID0 = 10_000_000
    K, N_CENTROIDS, NPROBE = 5, 8, 2
    slots = {"batch_ms": "dedup_batch_ms", "ingest_ms": "ivf_batch_ms",
             "query_ms": "probe_ms"}

    def __init__(self, run: Run) -> None:
        self.run = run
        self.n_batches = max(3, run.seconds // 2)
        self.rounds = max(3, run.seconds // 4)

    def generate(self) -> None:
        r = self.run
        d = r.dir("inputs", "curation")
        self.docs = d / "docs.parquet"
        corpus = gen.documents(self.docs, r.seed, self.DOCS, 0,
                               self.DUP_SHARE)
        self.vecs = d / "vecs.parquet"
        gen.vectors(self.vecs, r.seed, self.VECS, 0)
        self.probes = []
        for i in range(self.rounds):
            lo = self.PROBE_ID0 + i * 1000
            pd_, pv = d / f"probe_docs_{i}.parquet", d / f"probe_vecs_{i}.parquet"
            gen.documents(pd_, r.seed, self.PROBE_DOCS, lo, 0.5, corpus)
            gen.vectors(pv, r.seed, self.PROBE_VECS, lo)
            self.probes.append((pd_, pv))
        self.warm_docs = d / "warm_docs.parquet"
        warm_corpus = gen.documents(self.warm_docs, r.seed + 1, 40, 0,
                                    self.DUP_SHARE)
        self.warm_vecs = d / "warm_vecs.parquet"
        gen.vectors(self.warm_vecs, r.seed + 1, 60, 0)
        self.warm_probe = (d / "warm_probe_docs.parquet",
                           d / "warm_probe_vecs.parquet")
        gen.documents(self.warm_probe[0], r.seed + 1, self.PROBE_DOCS,
                      self.PROBE_ID0, 0.5, warm_corpus)
        gen.vectors(self.warm_probe[1], r.seed + 1, self.PROBE_VECS,
                    self.PROBE_ID0)
        r.inputs = [self.docs, self.vecs, *[p for pr in self.probes
                                            for p in pr]]

    def _families(self, tag: str, docs: Path, vecs: Path, n: int):
        """The two streaming ingest calls over ``n`` micro-batches each,
        into fresh index dirs under ``work/<tag>``."""
        from insight_de_smart_grid_spark.operators.dedup_index import (
            streaming_ingest_dedup,
        )
        from insight_de_smart_grid_spark.operators.ivf_index import (
            streaming_ingest_ivf,
        )
        spark = self.run.spark
        base = self.run.dir("work", tag)

        def dedup():
            return streaming_ingest_dedup(
                spark, spark.read.parquet(str(docs)), str(base / "dedup"),
                n_files=n)

        def ivf():
            return streaming_ingest_ivf(
                spark, spark.read.parquet(str(vecs)), str(base / "ivf"),
                n_batches=n, k=self.K, n_centroids=self.N_CENTROIDS,
                nprobe=self.NPROBE)

        return base, dedup, ivf

    def warm(self) -> None:
        """Both families' ingest on a tiny corpus, then one probe round on
        the tiny indexes, so no measured probe round is the first."""
        r = self.run
        base, dedup, ivf = self._families("warm", self.warm_docs,
                                          self.warm_vecs, 2)
        with r.tracer.span("warm_dedup", "operators.dedup_index", op=True):
            dedup()
        with r.tracer.span("warm_ivf", "operators.ivf_index", op=True):
            ivf()
        r.n_queries += 2
        r.listener.quiesce(r.n_queries)
        with r.tracer.span("warm_probe", op=True):
            self._probe(base, *self.warm_probe)

    def _probe(self, base: Path, docs: Path, vecs: Path):
        from insight_de_smart_grid_spark.operators.dedup_index import (
            dedup_new_against_index,
        )
        from insight_de_smart_grid_spark.operators.ivf_index import (
            query_ivf_batch_topk,
        )
        r = self.run
        spark = r.spark
        with r.tracer.span("dedup_probe", "operators.dedup_index"):
            pairs = [tuple(x) for x in dedup_new_against_index(
                spark, str(base / "dedup" / "index"),
                spark.read.parquet(str(docs))).collect()]
        with r.tracer.span("ivf_probe", "operators.ivf_index"):
            top = [tuple(x) for x in query_ivf_batch_topk(
                spark, str(base / "ivf" / "index"),
                spark.read.parquet(str(vecs)), k=self.K,
                nprobe=self.NPROBE).select(
                    "query_id", "vec_id", "cos_sim").collect()]
        return pairs, top

    def measure(self) -> None:
        r = self.run
        self.base, dedup, ivf = self._families("main", self.docs, self.vecs,
                                               self.n_batches)
        pairs = r.streaming_call("dedup_ingest", dedup,
                                 "operators.dedup_index")
        dedup_events = r.stream_calls[-1][2] if pairs is not None else []
        self.pairs = None if pairs is None else [
            tuple(x) for x in pairs.collect()]
        probes = r.streaming_call("ivf_ingest", ivf, "operators.ivf_index")
        ivf_events = r.stream_calls[-1][2] if probes is not None else []
        self.ivf_log = None if probes is None else [
            tuple(x) for x in probes.select(
                "query_id", "vec_id", "cos_sim").collect()]
        # the first data batch of each family builds the index; the rest
        # probe and append, a different kind of operation
        r.samples["dedup_batch_ms"] = trigger_ms(
            data_batches(dedup_events)[1:])
        r.samples["ivf_batch_ms"] = trigger_ms(data_batches(ivf_events)[1:])
        self.n_data_batches = (len(data_batches(dedup_events))
                               + len(data_batches(ivf_events)))
        walls = r.samples.get("dedup_ingest", []) + r.samples.get(
            "ivf_ingest", [])
        if len(walls) == 2:
            r.values["rows_per_s"] = (self.DOCS + self.VECS) / (
                sum(walls) / 1000.0)
        self.probe_out = [
            r.timed("probe_ms", lambda d=d, v=v: self._probe(self.base, d, v))
            for d, v in self.probes]

    def verify(self, con) -> None:
        r = self.run
        if self.pairs is not None:
            r.check("dedup ingest", oracle.same_rows(
                self.pairs, oracle.dedup_pairs(con, [self.docs])))
        if self.ivf_log is not None:
            r.check("ivf ingest", oracle.same_rows(
                self.ivf_log, oracle.ivf_ingest(
                    con, [self.vecs], self.n_batches, self.K,
                    self.N_CENTROIDS, self.NPROBE)))
        probe_pairs = oracle.dedup_probe(
            con, [self.docs], [d for d, _ in self.probes], self.PROBE_ID0)
        for i, ((docs, vecs), out) in enumerate(zip(self.probes,
                                                    self.probe_out)):
            if out is None:
                continue
            pairs, top = out
            lo = self.PROBE_ID0 + i * 1000
            want = [p for p in probe_pairs if lo <= p[1] < lo + 1000]
            bad = oracle.same_rows(pairs, want) or \
                oracle.same_rows(top, oracle.ivf_probe(
                    con, [self.vecs], vecs, self.n_batches, self.K,
                    self.N_CENTROIDS, self.NPROBE))
            r.check("probe round", bad)

    def index_facts(self) -> "dict[str, float]":
        """Manifest versions, live files and bytes of both finished
        indexes, read from disk after ingest."""
        from insight_de_smart_grid_spark.operators.index_base import (
            live_file_count,
        )
        from insight_de_smart_grid_spark.operators.index_manifest import (
            read_manifest,
        )
        versions = live = size = 0
        for fam, tables in (("dedup", ("bands", "docs", "pairs")),
                            ("ivf", ("centroids", "lists", "probes"))):
            idx = str(self.base / fam / "index")
            man = read_manifest(idx)
            versions += man["version"] if man else 0
            live += live_file_count(idx, tables)
            size += sum(p.stat().st_size for p in Path(idx).rglob("*")
                        if p.is_file())
        in_bytes = self.docs.stat().st_size + self.vecs.stat().st_size
        return {"index.manifest_versions_per_batch":
                versions / max(1, self.n_data_batches),
                "index.live_files": live,
                "index.bytes_per_input_byte": size / in_bytes}


WORKLOADS = {"grid": Grid, "curation_ingest": CurationIngest}


# ---------------------------------------------------------------- reporting

def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process's
    descendants: the Spark JVM and its Python workers."""
    children: "dict[int, list[int]]" = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    total_kb = 0
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


CALL_KINDS = {"drain": "drain", "tick_ms": "tick", "dedup_ingest": "ingest",
              "ivf_ingest": "ingest"}


def streaming_layer(run: Run) -> "dict[str, float]":
    """Streaming metrics over every measured streaming call, plus the share
    of wall time spent outside micro-batches per kind of call (one long
    drain, short rollup ticks, index ingest)."""
    events = [p for _, _, evs in run.stream_calls for p in evs]
    n = len(events)

    def phase(key: str) -> float:
        return float(sum(p["durationMs"].get(key, 0) for p in events))

    def outside_share(calls) -> float:
        walls = sum(wall for _, wall, _ in calls) * 1000.0
        out = sum(metrics.outside_batch(wall, trigger_ms(evs))
                  for _, wall, evs in calls)
        return out / walls if walls else 0.0

    state_ops = [p.get("stateOperators") or [] for p in events]
    out = {
        "streaming.batches": n,
        "streaming.data_batch_share": len(data_batches(events)) / n if n
        else 0.0,
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.latest_offset_ms": phase("latestOffset"),
        "streaming.outside_batch_ms": sum(
            metrics.outside_batch(wall, trigger_ms(evs))
            for _, wall, evs in run.stream_calls),
        "streaming.outside_batch_share": outside_share(run.stream_calls),
        "streaming.state_rows": max((sum(o.get("numRowsTotal", 0)
                                         for o in ops)
                                     for ops in state_ops), default=0),
        "streaming.state_bytes": max((sum(o.get("memoryUsedBytes", 0)
                                          for o in ops)
                                      for ops in state_ops), default=0),
        "streaming.state_commit_ms": float(sum(o.get("commitTimeMs", 0)
                                               for ops in state_ops
                                               for o in ops)),
    }
    for kind in ("drain", "tick", "ingest"):
        out[f"streaming.{kind}.outside_batch_share"] = outside_share(
            [c for c in run.stream_calls if CALL_KINDS[c[0]] == kind])
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", type=Path, required=True)
    ap.add_argument("--out", type=Path, required=True)
    a = ap.parse_args()

    t0 = time.time()
    from insight_de_smart_grid_spark.session import get_spark
    spark = get_spark(app_name=f"gridbench_{a.workload}")
    session_s = time.time() - t0
    tracer = Tracer(spark, enabled=bool(a.trace))
    if a.trace:
        tracer.spans.append(metrics.Span(
            sid=0, name="get_spark", start=t0, end=t0 + session_s, op=0,
            layer="session", phase="setup"))
    listener = ProgressListener()
    spark.streams.addListener(listener)
    run = Run(spark, tracer, listener, a.scratch, a.seed, a.seconds)
    wl = WORKLOADS[a.workload](run)

    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t

    tracer.phase = "measure"
    t = time.perf_counter()
    wl.measure()
    measure_wall_s = time.perf_counter() - t
    rss = peak_rss_mb()
    facts = wl.index_facts() if hasattr(wl, "index_facts") else {}

    t = time.perf_counter()
    con = oracle.connect()
    wl.verify(con)
    con.close()
    check_s = time.perf_counter() - t

    jvm = spark.sparkContext._jvm
    result = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "setup": {"session.start_s": session_s, "setup.gen_s": gen_s,
                  "setup.warm_s": warm_s},
        "setup_s": session_s + gen_s + warm_s,
        "measure_wall_s": measure_wall_s,
        "check_s": check_s,
        "peak_rss_mb": rss,
        "samples": run.samples,
        "values": run.values,
        "slots": wl.slots,
        "input_hash": gen.input_hash(run.inputs),
        "spark_driver_memory": spark.conf.get("spark.driver.memory"),
        "java_version": jvm.System.getProperty("java.version"),
        "graft_env": {k: v for k, v in os.environ.items()
                      if k.startswith("SPARK_GRAFT_")},
        "streaming": streaming_layer(run),
        "index": facts,
    }
    if a.trace:
        # stopping the context flushes the event log
        spark.streams.removeListener(listener)
        spark.stop()
        jobs = read_event_log(a.scratch / "eventlog")
        spans = tracer.spans
        att = metrics.attribute_jobs(jobs, spans, listener.run_starts)
        measured = [s for s in spans
                    if s.phase == "measure" or s.layer == "session"]
        result["layers"] = metrics.layer_table(measured, att, LAYERS)
        index_jobs = sum(len(att.by_span.get(s.sid, [])) for s in measured
                         if s.layer in ("operators.dedup_index",
                                        "operators.ivf_index")
                         and s.name in ("dedup_ingest", "ivf_ingest"))
        if facts:
            result["index"]["index.jobs_per_batch"] = (
                index_jobs / max(1, wl.n_data_batches))
        result["unattributed_jobs"] = len(att.unattributed)
        result["jobs"] = len(jobs)
        result["spans"] = [sp.__dict__ for sp in spans]
    a.out.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
