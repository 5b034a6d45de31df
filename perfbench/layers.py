"""Per-layer metrics: one traced iteration, layer probes and kernel rates.

Layers (the program's modules, used as metric prefixes):
  run         the timed iteration itself (same call as untraced)
  mine        operators.bloomspan.mine; its jobs split by call site
  parse       operators.extraction.strip_pass (+ core.htmlparse) with an
              empty phrase table, forced alone after the iteration
  strip       the same strip_pass with the workload's phrase table (+
              core.extract_vec); strip.wall_s is its wall minus parse's
  checkpoint  plans.pipeline.CheckpointStore.write_table / commit
  kernel      core.htmlparse.html_to_text and core.extract_vec.strip_batch,
              single-thread on a fixed driver-side sample
A layer that is not on a workload's path reports 0.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from boilerplate_buster_spark.operators import bloomspan, extraction
from boilerplate_buster_spark.plans.pipeline import CheckpointStore

import spans as S

SPAN_NAMES = ("run", "parse", "mine", "strip", "checkpoint")
KERNEL_PAGES = 400
KERNEL_REPEATS = 5
TRACE_RESUMES = 2  # crash-resumes after the traced iteration
_MB = 1024 * 1024

#: Every metric a traced run reports, with its unit (BENCHMARK.json's
#: per_layer list).
PER_LAYER: tuple[tuple[str, str], ...] = (
    *((f"{span}.{k}", u) for span in SPAN_NAMES for k, u in S.COUNTERS),
    ("mine.wall_s", "s"),
    ("mine.driver_s", "s"),
    *((f"mine.{label}.job_s", "s") for label in S.MINE_LABELS),
    ("mine.edges.shuffle_write_mb", "MB"),
    ("mine.seed_accept_ratio", "ratio"),
    ("mine.candidates", "count"),
    ("mine.phrases", "count"),
    ("mine.phrase_yield", "ratio"),
    ("mine.selection_skipped_covered", "count"),
    ("mine.selection_dropped_closure", "count"),
    ("run.wall_s", "s"),
    ("parse.wall_s", "s"),
    ("strip.wall_s", "s"),
    ("strip.removed_spans", "count"),
    ("checkpoint.write_s", "s"),
    ("checkpoint.written_mb", "MB"),
    ("checkpoint.resume.job_s", "s"),
    ("sources.materialise_s", "s"),
    ("trace.overhead_ratio", "ratio"),
    ("kernel.html_to_text.pages_per_s", "1/s"),
    ("kernel.strip_batch.pages_per_s", "1/s"),
    ("spark.local1.pages_per_s", "1/s"),
    ("spark.parallel_eff_1v4", "ratio"),
)


@dataclass
class TracedResult:
    metrics: dict[str, tuple[float, str]]
    run_wall: float
    facts: dict


def _with_stats(sp, args, kwargs) -> None:
    # mine's documented stats dict: seed and selection counters
    sp.attrs["stats"] = kwargs.setdefault("stats", {})


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / _MB


def probe_parse_strip(spark, corpus, phrases: list[str], tr: S.Tracer) -> int:
    """Force strip_pass, the call the workloads time, twice: with an empty
    phrase table (html parse, Arrow transfer and an empty strip) and with
    the real one.  -> removed span count."""
    def removed(table):
        return extraction.strip_pass(corpus.pages(spark), table).agg(
            F.sum(F.size("removed_spans")).alias("n")).collect()[0]["n"]

    with tr.span("parse"):
        removed([])
    with tr.span("strip"):
        return removed(phrases)


def traced_iteration(bench, spark, corpus) -> TracedResult:
    tr = S.Tracer(True)
    tr.wrap(bloomspan, "mine", "mine", before=_with_stats)
    tr.wrap(CheckpointStore, "write_table", "checkpoint")
    tr.wrap(CheckpointStore, "commit", "checkpoint")
    S.tag_untagged_actions(tr, spark.sparkContext)
    since = time.time()
    try:
        got = bench.iterate(spark, corpus, tr)
        if got is None:
            raise RuntimeError("traced iteration failed")
        out = got[0]
        for _ in range(TRACE_RESUMES if bench.w.resumable else 0):
            if bench.resume(spark, corpus, tr) is None:
                raise RuntimeError("traced resume failed")
        phrases = out.phrases if out.phrases is not None else bench.w.shape.templates()
        removed = probe_parse_strip(spark, corpus, phrases, tr)
    finally:
        tr.unwrap_all()
    written_mb = _dir_mb(os.path.join(bench.work, "out", "ckpt"))
    jobs, stages = S.read_status_store(spark, since)
    S.label_jobs(jobs)

    def spans(name):
        return [s for s in tr.spans if s.name == name]

    def wall(name):
        return sum(s.wall for s in spans(name))

    m: dict[str, tuple[float, str]] = {}
    units = dict(S.COUNTERS)
    for name in SPAN_NAMES:
        for k, v in S.span_counters(spans(name), jobs, stages, bench.cores).items():
            m[f"{name}.{k}"] = (v, units[k])

    mine_jobs = S.jobs_in(spans("mine"), jobs)
    m["mine.wall_s"] = (wall("mine"), "s")
    m["mine.driver_s"] = (wall("mine") - S.job_s(mine_jobs), "s")
    for label in S.MINE_LABELS:
        m[f"mine.{label}.job_s"] = (
            S.job_s([j for j in mine_jobs if j.label == label]), "s")
    edge_stages = {s for j in mine_jobs if j.label == "edges" for s in j.stage_ids}
    m["mine.edges.shuffle_write_mb"] = (
        sum(stages[s].shuffle_write_b for s in edge_stages if s in stages) / _MB, "MB")
    stats = spans("mine")[0].attrs["stats"] if spans("mine") else {}
    seeds, cands = stats.get("seeds_total", 0), stats.get("candidates_after_merge", 0)
    n_phrases = stats.get("phrases_total", 0)
    m["mine.seed_accept_ratio"] = (
        stats.get("seeds_accepted", 0) / seeds if seeds else 0.0, "ratio")
    m["mine.candidates"] = (cands, "count")
    m["mine.phrases"] = (n_phrases, "count")
    m["mine.phrase_yield"] = (n_phrases / cands if cands else 0.0, "ratio")
    for k in ("selection_skipped_covered", "selection_dropped_closure"):
        m[f"mine.{k}"] = (stats.get(k, 0), "count")

    m["run.wall_s"] = (wall("run"), "s")
    m["parse.wall_s"] = (wall("parse"), "s")
    # on a tiny strip share the difference can fall below 0: noise
    m["strip.wall_s"] = (max(0.0, wall("strip") - wall("parse")), "s")
    m["strip.removed_spans"] = (removed or 0, "count")
    m["checkpoint.write_s"] = (wall("checkpoint"), "s")
    m["checkpoint.written_mb"] = (written_mb, "MB")
    resumes = spans("resume")
    m["checkpoint.resume.job_s"] = (
        S.job_s(S.jobs_in(resumes, jobs)) / len(resumes) if resumes else 0.0, "s")

    funcs = {j.func for j in mine_jobs}
    facts = {
        "mine_strategy": ("distributed" if "_mine_distributed" in funcs
                          else "driver" if "_mine_driver" in funcs else "none"),
        "word_gate": ("bitmap" if "packed_word_bitmap" in funcs
                      else "inset" if mine_jobs else "none"),
        "mine_stats": {k: v for k, v in stats.items() if not k.startswith("_")},
        "spans": [(s.name, s.parent, round(s.wall, 4)) for s in tr.spans],
        "mine_jobs": [(j.job_id, j.label, round(j.end - j.start, 4), j.name)
                      for j in mine_jobs],
    }
    return TracedResult(m, wall("run"), facts)


def _rate(fn, pages: int) -> float:
    """Median single-thread pages/s of fn over KERNEL_REPEATS calls."""
    times = []
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return pages / statistics.median(times)


def kernel_metrics(spark) -> dict[str, tuple[float, str]]:
    """Public kernels on a fixed html sample (seed 0), in this process."""
    from boilerplate_buster_spark.core.extract import index_phrases
    from boilerplate_buster_spark.core.extract_vec import strip_batch
    from boilerplate_buster_spark.core.htmlparse import html_to_text

    from corpus import CorpusShape, generate

    shape = CorpusShape(n_pages=KERNEL_PAGES, n_sites=5, html=True)
    pages = [bytes(r["html"]) for r in
             generate(spark, shape, seed=0, partitions=1).select("html").collect()]
    texts = [html_to_text(p) for p in pages]
    by_len = index_phrases(shape.templates())
    return {
        "kernel.html_to_text.pages_per_s": (
            _rate(lambda: [html_to_text(p) for p in pages], len(pages)), "1/s"),
        "kernel.strip_batch.pages_per_s": (
            _rate(lambda: strip_batch(texts, by_len), len(texts)), "1/s"),
    }
