"""Spans and per-layer metrics, recorded from outside the library.

A ``Tracer`` belongs to one op. When enabled it:
  * wraps each public library call in a span (name, start, end, parent, op)
    — the calls the op makes itself and, through ``patched_library``, the
    public calls the library makes to itself (annotate_vcf -> read_vcf ...);
  * tags the op's Spark jobs with a job group;
  * keeps every DataFrame the op collects, to read Catalyst's own phase
    timings from ``QueryExecution.tracker()``;
  * after the op, reads each job and stage from the Spark status store
    (``SparkContext.statusStore``), which is filled with the UI off.

When disabled every method is a plain call, so untraced ops pay nothing.

Layer split of one op (``split.*``): every instant of the op's wall is
counted at most once, as Spark job time if a job of the op ran, else
Catalyst time if an analysis/optimization/planning phase of a collected
DataFrame ran, else construction if a construct span was open, else driver
time if an action span was open. The four parts cover the wall when every
public call is spanned; ``split.parts_over_wall`` checks that.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable

#: construct-span name -> per-layer metric (span self time)
CONSTRUCT_METRICS = {
    "sources.read_vcf_header": "sources.read_vcf_header_s",
    "sources.read_vcf": "sources.read_vcf_construct_s",
    "sources.vcf_to_parquet": "sources.vcf_to_parquet_s",
    "operators.explode_genotypes": "operators.explode_genotypes_construct_s",
    "operators.annotate_genotypes": "operators.annotate_genotypes_construct_s",
    "operators.annotate_vcf": "operators.annotate_vcf_construct_s",
    "operators.sample_qc": "operators.sample_qc_construct_s",
}

#: library functions the library calls by module attribute; patched in
#: traced runs so the inner calls get spans too.
PATCH_TARGETS = [
    ("pandasvcf_spark.sources.vcf", "read_vcf_header", "sources.read_vcf_header"),
    ("pandasvcf_spark.sources.vcf", "read_vcf", "sources.read_vcf"),
    ("pandasvcf_spark.operators.annotate", "explode_genotypes", "operators.explode_genotypes"),
    ("pandasvcf_spark.operators.annotate", "annotate_genotypes", "operators.annotate_genotypes"),
]

_CATALYST_PHASES = ("analysis", "optimization", "planning")


# --- interval arithmetic (seconds since the epoch) ------------------------


def union(intervals):
    out = []
    for a, b in sorted(tuple(i) for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def minus(a, b) -> float:
    """Length of the part of `a` that `b` does not cover."""
    a, b = union(a), union(b)
    overlap = 0.0
    for x0, x1 in a:
        for y0, y1 in b:
            overlap += max(0.0, min(x1, y1) - max(x0, y0))
    return length(a) - overlap


# --- the tracer ------------------------------------------------------------


class Tracer:
    def __init__(self, spark, op_id: int, enabled: bool):
        self.spark = spark
        self.op_id = op_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._frames: list = []  # collected DataFrames (for tracker phases)
        self.rows_out = 0

    # spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "group"):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "kind": kind,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def call(self, name: str, fn: Callable, *args, **kwargs):
        """A public library call: it builds a plan, and may run jobs of its
        own (eager footer reads, or a whole write for vcf_to_parquet)."""
        with self.span(name, "construct"):
            return fn(*args, **kwargs)

    def collect(self, name: str, build: Callable):
        """Build the final DataFrame with `build()` and collect it."""
        with self.span(name, "action"):
            df = build()
            rows = df.collect()
        self.rows_out += len(rows)
        if self.enabled:
            self._frames.append(df)
        return rows

    @contextlib.contextmanager
    def op(self):
        """Open the op: job group on, op span around the body."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group, f"perfbench op {self.op_id}")
        try:
            with self.span("op", "op"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @property
    def group(self) -> str:
        return f"perfbench-op-{self.op_id}"

    # metrics ------------------------------------------------------------

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        children = [
            (c["start"], c["end"]) for c in self.spans if c["parent"] == idx
        ]
        return (s["end"] - s["start"]) - length(children)

    def metrics(self, cores: int, queries: list[str]) -> dict[str, float]:
        """Per-layer metrics of this (finished, traced) op."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        op_span = next(s for s in self.spans if s["kind"] == "op")
        t0, t1 = op_span["start"], op_span["end"]
        wall = t1 - t0

        jobs, stage_ids = [], set()
        for jid in sc.statusTracker().getJobIdsForGroup(self.group):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            jobs.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.length()))
        job_iv = union([(max(a, t0), min(b, t1)) for a, b in jobs])

        m = dict.fromkeys(
            ("serial_stage_s", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "output_mb",
             "output_records", "input_records", "stages", "tasks"),
            0.0,
        )
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage skipped, never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks()
            m["executor_run_s"] += st.executorRunTime() / 1e3
            m["executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            m["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            m["spill_mb"] += st.diskBytesSpilled() / 1e6
            m["output_mb"] += st.outputBytes() / 1e6
            m["output_records"] += st.outputRecords()
            m["input_records"] += st.inputRecords()
            sub, comp = st.submissionTime(), st.completionTime()
            if st.numTasks() == 1 and sub.isDefined() and comp.isDefined():
                m["serial_stage_s"] += (
                    comp.get().getTime() - sub.get().getTime()
                ) / 1e3

        phases = dict.fromkeys(_CATALYST_PHASES, 0.0)
        catalyst_iv = []
        for df in self._frames:
            ph = df._jdf.queryExecution().tracker().phases()
            for name in _CATALYST_PHASES:
                opt = ph.get(name)
                if opt.isDefined():
                    p = opt.get()
                    phases[name] += (p.endTimeMs() - p.startTimeMs()) / 1e3
                    catalyst_iv.append((p.startTimeMs() / 1e3, p.endTimeMs() / 1e3))

        construct_iv = [
            (s["start"], s["end"]) for s in self.spans if s["kind"] == "construct"
        ]
        action_iv = [
            (s["start"], s["end"]) for s in self.spans if s["kind"] == "action"
        ]
        jobs_s = length(job_iv)
        construct_s = minus(construct_iv, job_iv)
        catalyst_s = minus(catalyst_iv, construct_iv + job_iv)
        driver_s = minus(action_iv, job_iv + catalyst_iv)
        action_wall = length(action_iv + [
            (s["start"], s["end"]) for s in self.spans
            if s["name"] == "sources.vcf_to_parquet"
        ])

        out = {f"spark.{k}": float(v) for k, v in m.items()}
        out.update({f"spark.{k}_s": v for k, v in phases.items()})
        out["spark.jobs"] = float(len(jobs))
        out["spark.outside_jobs_s"] = wall - jobs_s
        out["spark.core_busy_frac"] = (
            m["executor_run_s"] / (action_wall * cores) if action_wall else 0.0
        )
        out["spark.records_in_per_row_out"] = m["input_records"] / max(
            self.rows_out, 1
        )
        out["spark.blocks_held"] = float(sc._jsc.getPersistentRDDs().size())
        out["split.construct_s"] = construct_s
        out["split.catalyst_s"] = catalyst_s
        out["split.jobs_s"] = jobs_s
        out["split.driver_s"] = driver_s
        out["split.parts_over_wall"] = (
            construct_s + catalyst_s + jobs_s + driver_s
        ) / wall

        for metric in CONSTRUCT_METRICS.values():
            out[metric] = 0.0
        for i, s in enumerate(self.spans):
            metric = CONSTRUCT_METRICS.get(s["name"])
            if metric:
                out[metric] += self.self_time(i)

        # catalog queries: spans queries.<name> > .construct / .collect
        q_construct = [
            (s["start"], s["end"]) for s in self.spans
            if s["name"].startswith("queries.") and s["kind"] == "construct"
        ]
        out["queries.construct_s"] = length(q_construct)
        out["queries.construct_jobs"] = float(sum(
            1 for a, _ in jobs if any(x0 <= a <= x1 for x0, x1 in q_construct)
        ))
        for q in queries:
            out[f"queries.{q}.construct_s"] = out[f"queries.{q}.wall_s"] = 0.0
        for s in self.spans:
            if s["name"].startswith("queries."):
                key = s["name"] + (
                    "_s" if s["kind"] == "construct" else ".wall_s"
                )
                if s["kind"] in ("construct", "group"):
                    out[key] = s["end"] - s["start"]
        return out


@contextlib.contextmanager
def patched_library(current: Callable[[], Tracer | None]):
    """Route the library's own calls to PATCH_TARGETS through the tracer
    that `current()` returns, for the duration of the block."""
    import importlib

    saved = []
    for module_name, attr, span_name in PATCH_TARGETS:
        mod = importlib.import_module(module_name)
        orig = getattr(mod, attr)

        def wrapper(*args, __orig=orig, __name=span_name, **kwargs):
            tr = current()
            if tr is None:
                return __orig(*args, **kwargs)
            return tr.call(__name, __orig, *args, **kwargs)

        saved.append((mod, attr, orig))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)
