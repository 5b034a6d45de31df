"""Spans around calls into the program, and Spark's own counters per span.

A span is recorded by the benchmark around a call into one of the program's
public functions (name, parent, start, end, attrs).  After a traced
iteration the benchmark reads every job and stage of that iteration from the
SparkContext status store through py4j and attributes each job to the spans
whose wall-clock window holds its submission time.

Inside ``mine`` each job is also attributed by its call site: PySpark names a
job "<action> at <file>:<line>" after the first frame outside pyspark; the
line is mapped to its enclosing function and statement (see
``MINE_JOB_LABELS``).  Actions that PySpark does not tag (``count``,
parquet writes) are tagged here while tracing; broadcast jobs, which carry a
JVM call site, go to the next tagged job, the action they were run for.
"""

from __future__ import annotations

import ast
import functools
import os
import re
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

_MB = 1024 * 1024


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, self._stack[-1].name if self._stack else None, time.time(),
                  attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, before=None) -> None:
        """Replace owner.attr by a function that runs it inside span `name`;
        `before(span, args, kwargs)` may inspect or add keyword arguments."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                if before is not None:
                    before(sp, args, kwargs)
                return orig(*args, **kwargs)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# --- call sites for actions PySpark leaves untagged ----------------------

_HERE = os.path.abspath(__file__)


def _user_frame() -> tuple[str, int] | None:
    import pyspark

    skip = os.path.dirname(os.path.abspath(pyspark.__file__))
    for fs in reversed(traceback.extract_stack()[:-2]):
        f = os.path.abspath(fs.filename)
        if f != _HERE and not f.startswith(skip):
            return f, fs.lineno
    return None


def tag_untagged_actions(tracer: Tracer, sc) -> None:
    """Give DataFrame.count and parquet/save writes the same
    "<action> at <file>:<line>" call site PySpark gives collect(), until
    tracer.unwrap_all()."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    def tagging(orig, action):
        @functools.wraps(orig)
        def tagged(*args, **kwargs):
            where = _user_frame()
            if where is None:
                return orig(*args, **kwargs)
            sc._jsc.setCallSite(f"{action} at {where[0]}:{where[1]}")
            try:
                return orig(*args, **kwargs)
            finally:
                sc._jsc.setCallSite(None)

        return tagged

    for owner, attr in ((DataFrame, "count"), (DataFrameWriter, "parquet"),
                        (DataFrameWriter, "save")):
        tracer.patch(owner, attr, tagging(getattr(owner, attr), attr))


# --- status store -----------------------------------------------------------


@dataclass
class Job:
    job_id: int
    name: str
    start: float
    end: float
    stage_ids: list[int]
    label: str = "other"
    func: str = ""


@dataclass
class Stage:
    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    spill_b: int
    shuffle_read_b: int
    shuffle_write_b: int
    input_b: int


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def read_status_store(spark, since: float) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs submitted at or after `since` (epoch s) and their stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        start = _opt_ms(j.submissionTime())
        if start is None or start < since - 0.001:
            continue
        end = _opt_ms(j.completionTime()) or start
        jobs.append(Job(j.jobId(), j.name(), start, end,
                        [int(s) for s in _seq(j.stageIds())]))
    wanted = {s for j in jobs for s in j.stage_ids}
    gw = sc._gateway
    stages: dict[int, Stage] = {}
    for s in _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                                  gw.jvm.java.util.ArrayList())):
        sid = s.stageId()
        if sid not in wanted or str(s.status()) == "SKIPPED":
            continue
        st = stages.get(sid)  # several attempts: sum them
        vals = Stage(
            sid, s.numCompleteTasks(), s.executorRunTime() / 1e3,
            s.executorCpuTime() / 1e9, s.jvmGcTime() / 1e3, s.diskBytesSpilled(),
            s.shuffleReadBytes(), s.shuffleWriteBytes(), s.inputBytes(),
        )
        if st is not None:
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "spill_b",
                      "shuffle_read_b", "shuffle_write_b", "input_b"):
                setattr(vals, k, getattr(vals, k) + getattr(st, k))
        stages[sid] = vals
    jobs.sort(key=lambda j: (j.start, j.job_id))
    return jobs, stages


# --- call-site attribution inside mine ------------------------------------

#: (enclosing function, statement key) in operators/bloomspan.py -> label.
#: The statement key is the assigned name, or the root name of an
#: expression statement, or "return".
MINE_JOB_LABELS = {
    ("mine", "probe"): "word_df",
    ("mine", "cand_rows"): "candidates",
    ("packed_word_bitmap", "pos"): "bitmap",
    ("gather_windows", "cand_hashes"): "gather",
    ("_mine_distributed", "gathered"): "gather",
    ("_mine_distributed", "edge_rows"): "edges",
    ("_mine_distributed", "pdf"): "occ_transfer",
    ("_mine_driver", "rows"): "occ_transfer",
    ("resolve_words", "return"): "resolve",
}
MINE_LABELS = ("word_df", "candidates", "bitmap", "gather", "edges",
               "occ_transfer", "resolve", "other")

_CALLSITE_RE = re.compile(r" at (.+):(\d+)$")


def _root_name(node) -> str:
    while True:
        if isinstance(node, ast.Name):
            return node.id
        if isinstance(node, (ast.Attribute, ast.Subscript)):
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        else:
            return type(node).__name__


@functools.lru_cache(maxsize=None)
def _statements(path: str) -> list[tuple[int, int, str, str]]:
    """(first line, last line, enclosing function, statement key) for every
    statement of a source file."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            fn = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func
            if isinstance(child, ast.stmt):
                if isinstance(child, ast.Assign):
                    key = _root_name(child.targets[0])
                elif isinstance(child, (ast.AnnAssign, ast.AugAssign)):
                    key = _root_name(child.target)
                elif isinstance(child, ast.Expr):
                    key = _root_name(child.value)
                elif isinstance(child, ast.Return):
                    key = "return"
                else:
                    key = type(child).__name__
                out.append((child.lineno, child.end_lineno, func, key))
            visit(child, fn)

    visit(tree, "<module>")
    return out


def callsite(job_name: str) -> tuple[str, str] | None:
    """(enclosing function, statement key) of a job's Python call site."""
    m = _CALLSITE_RE.search(job_name)
    if not m or not m.group(1).endswith(".py") or not os.path.exists(m.group(1)):
        return None
    line = int(m.group(2))
    best = None
    for lo, hi, func, key in _statements(m.group(1)):
        if lo <= line <= hi and (best is None or hi - lo <= best[1] - best[0]):
            best = (lo, hi, func, key)
    return (best[2], best[3]) if best else None


def label_jobs(jobs: list[Job]) -> None:
    """Set each job's call-site function and mine label; untagged jobs take
    the label of the next tagged job."""
    pending: list[Job] = []
    for j in jobs:
        cs = callsite(j.name)
        if cs is None:
            pending.append(j)
            continue
        j.func = cs[0]
        j.label = MINE_JOB_LABELS.get(cs, "other")
        for p in pending:
            p.func, p.label = j.func, j.label
        pending = []


# --- per-span counters ----------------------------------------------------


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_in(spans: list[Span], jobs: list[Job]) -> list[Job]:
    return [j for j in jobs if any(s.start <= j.start <= s.end for s in spans)]


COUNTERS = (
    ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("executor_cpu_s", "s"), ("gc_s", "s"), ("spill_mb", "MB"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("input_mb", "MB"),
    ("core_util", "ratio"),
)


def span_counters(spans: list[Span], jobs: list[Job], stages: dict[int, Stage],
                  cores: int) -> dict[str, float]:
    mine_jobs = jobs_in(spans, jobs)
    st = [stages[s] for s in {s for j in mine_jobs for s in j.stage_ids} if s in stages]
    wall = sum(s.wall for s in spans)
    run_s = sum(s.run_s for s in st)
    return {
        "stages": len(st),
        "tasks": sum(s.tasks for s in st),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(s.cpu_s for s in st),
        "gc_s": sum(s.gc_s for s in st),
        "spill_mb": sum(s.spill_b for s in st) / _MB,
        "shuffle_read_mb": sum(s.shuffle_read_b for s in st) / _MB,
        "shuffle_write_mb": sum(s.shuffle_write_b for s in st) / _MB,
        "input_mb": sum(s.input_b for s in st) / _MB,
        "core_util": run_s / (wall * cores) if wall > 0 else 0.0,
    }


def job_s(jobs: list[Job]) -> float:
    return union_s([(j.start, j.end) for j in jobs])
