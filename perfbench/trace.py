"""Traced runs: spans around layer calls, Spark event-log task metrics, and
accumulator-backed backend wrappers.

Nothing here touches the program's files. A layer is measured from outside:
``Tracer.patch`` swaps a public function of a layer module for a wrapper
that opens a span, sets the Spark job group to the layer name, calls the
original, pins a DataFrame result with an eager ``localCheckpoint`` (so the
layer's jobs run inside its own span) and counts its rows. The originals are
put back by ``Tracer.restore``.

Spans (name, start, end, parent, run id) stay in memory. After the Spark app
stops, ``layer_metrics`` parses its event log into per-layer task metrics:
each stage belongs to the job group it was submitted under; a stage under an
unknown group (Structured Streaming sets its own per query run) belongs to
the innermost span open when it was submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "sources.interleaved",
    "operators.flatten",
    "operators.chunk",
    "operators.ner",
    "operators.relations",
    "operators.canonicalize",
    "operators.graph_build",
    "plans.checkpoint",
    "sources.sinks",
    "streaming.ingest",
    "operators.ann",
    "operators.pagerank",
    "operators.retrieval",
)
TASK_METRICS = ("executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "task_skew")
PER_LAYER = ("wall_s", "self_s", "rows_out") + TASK_METRICS
EXTRA = (
    "operators.chunk.chunks_per_doc",
    "operators.ner.backend_s",
    "operators.ner.udf_boundary_s",
    "operators.ner.dedup_keep_ratio",
    "operators.relations.backend_s",
    "operators.relations.udf_boundary_s",
    "operators.relations.gate_pass_ratio",
    "operators.relations.parse_keep_ratio",
    "operators.canonicalize.max_mentions_per_node",
    "plans.checkpoint.resume_s",
    "plans.checkpoint.bytes_written",
    "sources.sinks.merge_upsert_s",
    "sources.sinks.bytes_rewritten_per_batch",
    "sources.sinks.write_amplification",
    "tracing_overhead",
)


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.startswith("rows"):
        return "rows"
    if "bytes" in last:
        return "bytes"
    return {"chunks_per_doc": "chunks/doc",
            "max_mentions_per_node": "mentions"}.get(last, "ratio")


def per_layer_names() -> list[str]:
    return [f"{layer}.{m}" for layer in LAYERS for m in PER_LAYER] + list(EXTRA)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    rows_out: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent, self.run_id, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, prev_group)

    def call(self, layer: str, fn, *args, **kwargs):
        """Run one layer call in its own span; pin and count a DataFrame
        result so the layer's work happens inside the span."""
        from pyspark.sql import DataFrame

        with self.span(layer, fn=fn.__name__, args=_arg_summary(args, kwargs)) as sp:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
                sp.rows_out = out.count()
        return out

    def patch(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(layer, orig, *args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)


def _arg_summary(args, kwargs) -> dict:
    """Keep the scalar arguments (e.g. chunk size) so calls can be told apart."""
    out = {f"a{i}": a for i, a in enumerate(args) if isinstance(a, (int, float, str))}
    out.update({k: v for k, v in kwargs.items() if isinstance(v, (int, float, str))})
    return out


# -- backend wrappers --------------------------------------------------------

class TimedNER:
    """Wraps an NER backend; adds model seconds, chunks and raw mentions to
    Spark accumulators. Output is the wrapped backend's, unchanged."""

    def __init__(self, inner, acc_s, acc_chunks, acc_out):
        self.inner, self.acc_s, self.acc_chunks, self.acc_out = inner, acc_s, acc_chunks, acc_out

    def extract_batch(self, chunk_texts, labels=None):
        t0 = time.perf_counter()
        out = self.inner.extract_batch(chunk_texts, labels)
        self.acc_s.add(time.perf_counter() - t0)
        self.acc_chunks.add(len(chunk_texts))
        self.acc_out.add(sum(len(e) for e in out))
        return out


class TimedRE:
    """Wraps a relation backend; adds model seconds, chunks sent and the
    relations the responses carry to Spark accumulators."""

    def __init__(self, inner, acc_s, acc_chunks, acc_out):
        self.inner, self.acc_s, self.acc_chunks, self.acc_out = inner, acc_s, acc_chunks, acc_out

    def generate_batch(self, chunk_texts, entity_blocks, ents):
        t0 = time.perf_counter()
        out = self.inner.generate_batch(chunk_texts, entity_blocks, ents)
        self.acc_s.add(time.perf_counter() - t0)
        self.acc_chunks.add(len(out))
        self.acc_out.add(sum(_n_relations(r) for r in out))
        return out


def _n_relations(response: str) -> int:
    """Relations in one ```json fenced response (0 when unparseable)."""
    start = response.find("```json")
    if start < 0:
        return 0
    body = response[start + 7:]
    end = body.find("```")
    try:
        rels = json.loads(body[:end]) if end >= 0 else None
    except ValueError:
        return 0
    return len(rels) if isinstance(rels, list) else 0


@dataclass
class Backends:
    ner: TimedNER
    re: TimedRE

    @classmethod
    def make(cls, sc, ner_inner, re_inner) -> "Backends":
        def accs():
            return sc.accumulator(0.0), sc.accumulator(0), sc.accumulator(0)
        return cls(TimedNER(ner_inner, *accs()), TimedRE(re_inner, *accs()))

    def values(self) -> dict:
        """Per backend: model seconds, chunks in, mentions/relations out."""
        return {k: {"s": b.acc_s.value, "chunks": b.acc_chunks.value, "out": b.acc_out.value}
                for k, b in (("ner", self.ner), ("re", self.re))}


# -- event log ---------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Tasks:
    """Task metrics summed over a set of stages."""
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    bytes_out: int = 0
    records_out: int = 0
    skew: float = 0.0  # largest max/median task duration over the stages

    def add(self, o: "Tasks") -> None:
        for f in ("cpu_s", "shuffle_read", "shuffle_write", "spill", "bytes_out",
                  "records_out"):
            setattr(self, f, getattr(self, f) + getattr(o, f))
        self.skew = max(self.skew, o.skew)


@dataclass
class Stage:
    group: str | None
    submitted: float
    durations: list = field(default_factory=list)
    tasks: Tasks = field(default_factory=Tasks)


def parse_event_log(log_dir: str) -> list[Stage]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stages: dict[tuple[int, int], Stage] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                stages[info["Stage ID"], info["Stage Attempt ID"]] = Stage(
                    props.get("spark.jobGroup.id"), (info.get("Submission Time") or 0) / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                tm = ev.get("Task Metrics")
                if st is None or not tm:
                    continue
                ti, t = ev["Task Info"], st.tasks
                st.durations.append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
                t.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                sr = tm.get("Shuffle Read Metrics") or {}
                t.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                t.spill += tm.get("Disk Bytes Spilled", 0)
                om = tm.get("Output Metrics") or {}
                t.bytes_out += om.get("Bytes Written", 0)
                t.records_out += om.get("Records Written", 0)
    for st in stages.values():
        med = statistics.median(st.durations) if len(st.durations) >= 2 else 0
        if med > 0:
            st.tasks.skew = max(st.durations) / med
    return list(stages.values())


def attribute(stages: list[Stage], spans: list[Span]) -> dict[int, Tasks]:
    """Per-span task metrics (keyed by span index). A stage goes to the
    innermost span of its job group that was open at submission; a stage
    under a group that names no layer goes to the innermost open span."""
    out: dict[int, Tasks] = {}
    for st in stages:
        open_idx = [i for i, s in enumerate(spans)
                    if s.start - 0.002 <= st.submitted <= s.end + 0.002]
        same = [i for i in open_idx if spans[i].name == st.group]
        pick = same or ([] if st.group in LAYERS else open_idx)
        if pick:
            out.setdefault(max(pick, key=lambda i: spans[i].start), Tasks()).add(st.tasks)
    return out


def self_time(spans: list[Span], i: int) -> float:
    """Span duration minus the union of its direct children's intervals."""
    kids = sorted((s.start, s.end) for s in spans if s.parent == i)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (spans[i].end - spans[i].start) - covered


def rollup(spans: list[Span], tasks: dict[int, Tasks]) -> dict[str, Tasks]:
    """Task metrics per layer, each stage counted in its span's layer and in
    every enclosing layer (once per layer)."""
    out: dict[str, Tasks] = {}
    for i, t in tasks.items():
        layers, j = set(), i
        while j is not None:
            layers.add(spans[j].name)
            j = spans[j].parent
        for layer in layers:
            out.setdefault(layer, Tasks()).add(t)
    return out


def layer_metrics(spans: list[Span], tasks: dict[int, Tasks]) -> dict[str, float]:
    """Sum each layer's spans into ``<layer>.<metric>``; layers the run never
    called report 0. Times and task metrics include the layers called inside."""
    m: dict[str, float] = {n: 0.0 for n in per_layer_names()}
    for i, s in enumerate(spans):
        p = s.name + "."
        m[p + "wall_s"] += s.end - s.start
        m[p + "self_s"] += self_time(spans, i)
        m[p + "rows_out"] += s.rows_out
    for layer, t in rollup(spans, tasks).items():
        p = layer + "."
        m[p + "executor_cpu_s"] = t.cpu_s
        m[p + "shuffle_read_bytes"] = t.shuffle_read
        m[p + "shuffle_write_bytes"] = t.shuffle_write
        m[p + "spill_bytes"] = t.spill
        m[p + "task_skew"] = t.skew
    return m
