"""Pure metric code: percentiles, interval arithmetic, job attribution.

Nothing here touches Spark, so ``test_metrics.py`` checks it without a
session. Times are epoch seconds (floats) unless a name says otherwise.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# A percentile is reported only when at least this many samples lie
# beyond it; with fewer, the "tail" is one or two unlucky samples.
MIN_TAIL_SAMPLES = 10


def percentile(values: "list[float]", q: float) -> float:
    """The q-quantile (0 <= q <= 1) by linear interpolation between the
    two nearest ranks, as ``numpy.percentile``'s default does."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentiles(values: "list[float]") -> "dict[str, float]":
    """``p50`` always, ``p90`` only when at least ``MIN_TAIL_SAMPLES``
    samples lie above it (so a run needs 100 samples for a p90)."""
    out = {"p50": percentile(values, 0.5)}
    if len(values) // 10 >= MIN_TAIL_SAMPLES:  # a tenth lies beyond p90
        out["p90"] = percentile(values, 0.9)
    return out


def union_length(intervals: "list[tuple[float, float]]") -> float:
    """Total length covered by the union of closed intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def covered_within(start: float, end: float,
                   intervals: "list[tuple[float, float]]") -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    return union_length([(max(lo, start), min(hi, end))
                         for lo, hi in intervals])


@dataclass
class Span:
    """One timed call at a layer boundary. ``layer`` is None for the
    benchmark's own operation spans (one tick, one refresh, ...)."""
    sid: int
    name: str
    start: float
    end: float
    parent: "int | None" = None
    op: "int | None" = None
    layer: "str | None" = None
    phase: str = "measure"

    @property
    def group(self) -> str:
        return f"gridbench-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    """One Spark job from the event log: run interval and the task
    totals of its stages."""
    job_id: int
    submit: float
    end: float
    group: "str | None" = None
    tasks: int = 0
    exec_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def self_time(span: Span, spans: "list[Span]") -> float:
    """The span's duration minus the part its child spans cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.sid]
    return span.wall - covered_within(span.start, span.end, kids)


def driver_time(span: Span, jobs: "list[Job]") -> float:
    """The span's duration minus the union of its jobs' run intervals:
    the time no job of the span was running (analysis, planning, Python
    plan building, listing, manifest I/O, waiting)."""
    return span.wall - covered_within(span.start, span.end,
                                      [(j.submit, j.end) for j in jobs])


def innermost_open(spans: "list[Span]", t: float) -> "Span | None":
    """The latest-started span open at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


@dataclass
class Attribution:
    by_span: "dict[int, list[Job]]" = field(default_factory=dict)
    unattributed: "list[Job]" = field(default_factory=list)


def attribute_jobs(jobs: "list[Job]", spans: "list[Span]",
                   run_starts: "dict[str, float]") -> Attribution:
    """Assign each job to one span:

    1. a job group the benchmark set for a span names that span;
    2. a streaming micro-batch job carries its query's runId as job
       group, and goes to the innermost span open when that query
       started (``run_starts``: runId -> start time);
    3. a job with no group (submitted from a thread that never got the
       caller's local properties) goes to the innermost span open at
       submission.

    Jobs that match none of these (an unknown group, or no span open)
    are counted, not dropped."""
    by_group = {s.group: s for s in spans}
    out = Attribution()
    for j in jobs:
        span = None
        if j.group in by_group:
            span = by_group[j.group]
        elif j.group in run_starts:
            span = innermost_open(spans, run_starts[j.group])
        elif j.group is None:
            span = innermost_open(spans, j.submit)
        if span is None:
            out.unattributed.append(j)
        else:
            out.by_span.setdefault(span.sid, []).append(j)
    return out


def data_batches(events: "list[dict]") -> "list[dict]":
    """The streaming progress events of batches that read rows, in batch
    order."""
    return sorted((p for p in events if p.get("numInputRows", 0) > 0),
                  key=lambda p: p["batchId"])


def trigger_ms(events: "list[dict]") -> "list[float]":
    return [float(p["durationMs"].get("triggerExecution", 0))
            for p in events]


def state_update_batches(events: "list[dict]") -> "list[dict]":
    """A drain's batches that update standing state. Left out: the first
    data batch, which creates every key's state, and the one-row flush
    sentinel's batch, which pays only the fixed per-batch cost."""
    real = [p for p in data_batches(events) if p["numInputRows"] > 1]
    return real[1:]


def outside_batch(call_wall_s: float, trigger_ms: "list[float]") -> float:
    """Milliseconds of a streaming call spent outside any micro-batch:
    its wall time minus the sum of its batches' ``triggerExecution``
    (staging, sentinel, query start, waiting for termination,
    readback)."""
    return call_wall_s * 1000.0 - sum(trigger_ms)


LAYER_FIELDS = ("calls", "wall_ms", "self_ms", "driver_ms", "jobs", "tasks",
                "exec_cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes")


def layer_table(spans: "list[Span]", attribution: Attribution,
                layers: "tuple[str, ...]") -> "dict[str, float]":
    """``<layer>.<field>`` for every layer and ``LAYER_FIELDS`` entry,
    summed over the layer's spans. A layer with no span reads 0."""
    out = {f"{layer}.{f}": 0.0 for layer in layers for f in LAYER_FIELDS}
    for s in spans:
        if s.layer not in layers:
            continue
        jobs = attribution.by_span.get(s.sid, [])
        row = {
            "calls": 1,
            "wall_ms": s.wall * 1000.0,
            "self_ms": self_time(s, spans) * 1000.0,
            "driver_ms": driver_time(s, jobs) * 1000.0,
            "jobs": len(jobs),
            "tasks": sum(j.tasks for j in jobs),
            "exec_cpu_ms": sum(j.exec_cpu_ms for j in jobs),
            "gc_ms": sum(j.gc_ms for j in jobs),
            "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
            "spill_bytes": sum(j.spill_bytes for j in jobs),
        }
        for f, v in row.items():
            out[f"{s.layer}.{f}"] += v
    return out


# ------------------------------------------------------------- reporting

# units of the workloads' scalar values; sample lists are in ms and report
# p50 (and p90 when a run has the 100 samples that support it)
UNITS = {"rows_per_s": "rows/s"}
SLOTS = ("batch_ms", "ingest_ms", "query_ms")


def named_metrics(res: dict) -> "dict[str, dict]":
    """Every metric a workload run measured, with unit and sample count."""
    out = {"setup_s": {"value": res["setup_s"], "unit": "s", "n": 1},
           "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB",
                           "n": 1}}
    for k, v in res["values"].items():
        out[k] = {"value": v, "unit": UNITS.get(k, ""), "n": 1}
    for k, xs in res["samples"].items():
        if not xs:
            continue
        base = k if k.endswith("_ms") else f"{k}_ms"
        for p, v in supported_percentiles(xs).items():
            out[f"{base}.{p}"] = {"value": v, "unit": "ms", "n": len(xs)}
    return out


def end_to_end(res: dict) -> "dict[str, dict]":
    """The gated metrics. Every workload reports the same names; the
    three latency slots map to the workload's own operations
    (``res["slots"]``). A metric whose operations all failed has no
    samples: its value is None and its sample count 0, and the run's
    failures say why. Peak RSS stays in the run record: it does not hold
    steady."""
    named = named_metrics(res)

    def get(name: str, unit: str) -> dict:
        return named.get(name, {"value": None, "unit": unit, "n": 0})

    out = {"setup_s": named["setup_s"],
           "rows_per_s": get("rows_per_s", UNITS["rows_per_s"])}
    for slot in SLOTS:
        src = res["slots"][slot]
        src = src if src.endswith("_ms") else f"{src}_ms"
        out[f"{slot}.p50"] = dict(get(f"{src}.p50", "ms"), source=src)
    return out
