"""The benchmark's workloads: corpus shape, the timed call into the program,
and the output check.

Each timed iteration reads the materialised input parquet, runs one public
entry point of the program, and ends when the output is written or
committed.  Checks run outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boilerplate_buster_spark.operators import extraction
from boilerplate_buster_spark.plans import pipeline

from corpus import CorpusShape, generate, template_doc_counts
from spans import Tracer

INPUT_COLS = ("url", "html", "text")
INPUT_FILES = 4  # parquet files of a materialised corpus, whatever the host


@dataclass
class Corpus:
    """A materialised corpus: input + golden parquet and its facts."""

    path: str
    shape: CorpusShape
    seed: int
    template_counts: dict[str, int]

    def pages(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).select(*INPUT_COLS)

    def golden(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).select("url", "golden_text", "golden_spans")


@dataclass
class Outcome:
    """One timed iteration: its wall time and what the check needs."""

    wall_s: float
    output_paths: list[str]
    phrases: list[str] | None = None
    facts: dict = field(default_factory=dict)


def materialise(spark: SparkSession, shape: CorpusShape, seed: int, path: str) -> Corpus:
    """Generate the corpus, write it as parquet, count template pages."""
    generate(spark, shape, seed, INPUT_FILES).write.mode("overwrite").parquet(path)
    counts = template_doc_counts(spark.read.parquet(path), shape)
    return Corpus(path, shape, seed, counts)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Workload:
    name = ""
    ngrams = 3
    resumable = False  # has a checkpoint to crash and resume from

    def __init__(self, shape: CorpusShape):
        self.shape = shape

    def min_docs(self) -> int:
        raise NotImplementedError

    def expected_phrases(self, corpus: Corpus) -> set[str]:
        """Every injected template on >= min_docs pages.  The golden text
        strips every template, so all of them must qualify."""
        md = self.min_docs()
        short = {t: c for t, c in corpus.template_counts.items() if c < md}
        if short:
            raise ValueError(f"{self.name}: templates below min_docs={md}: {short}")
        return set(corpus.template_counts)

    def run(self, spark: SparkSession, corpus: Corpus, out_dir: str,
            tr: Tracer) -> Outcome:
        """One timed iteration; `tr` spans the whole run ("run")."""
        raise NotImplementedError

    def resume(self, spark: SparkSession, corpus: Corpus, out_dir: str,
               tr: Tracer) -> tuple[float, list[str]]:
        """Crash the last iteration's run before its extract commit and run
        it again -> (seconds, stages that ran); `tr` spans it ("resume")."""
        raise NotImplementedError

    def check_resume(self, spark: SparkSession, corpus: Corpus, out_dir: str,
                     ran: list[str]) -> list[str]:
        """Mismatch descriptions of one resume (empty = correct)."""
        raise NotImplementedError

    def check(self, spark: SparkSession, corpus: Corpus, outcome: Outcome) -> list[str]:
        """Mismatch descriptions (empty = correct)."""
        problems = []
        for path in outcome.output_paths:
            problems += check_extracted(spark, corpus, spark.read.parquet(path), path)
        if outcome.phrases is not None:
            want = self.expected_phrases(corpus)
            got = set(outcome.phrases)
            if got != want or len(outcome.phrases) != len(got):
                problems.append(
                    f"phrase set: {len(got)} mined vs {len(want)} expected; "
                    f"missing {sorted(want - got)[:3]}, extra {sorted(got - want)[:3]}"
                )
        return problems


def check_extracted(spark: SparkSession, corpus: Corpus, out: DataFrame,
                    label: str) -> list[str]:
    """Join the output per url against the golden text and spans."""
    gold = corpus.golden(spark)
    j = out.select("url", "extracted_text", "removed_spans").join(
        gold, "url", "full_outer"
    )
    row = j.agg(
        F.count("*").alias("rows"),
        F.sum(F.when(F.col("extracted_text").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("golden_text").isNull(), 1).otherwise(0)).alias("extra"),
        F.sum(
            F.when(F.col("extracted_text") != F.col("golden_text"), 1).otherwise(0)
        ).alias("bad_text"),
        F.sum(
            F.when(F.col("removed_spans") != F.col("golden_spans"), 1).otherwise(0)
        ).alias("bad_spans"),
    ).collect()[0]
    problems = []
    if row["rows"] != corpus.shape.n_pages:
        problems.append(f"{label}: {row['rows']} rows for {corpus.shape.n_pages} pages")
    for k in ("missing", "extra", "bad_text", "bad_spans"):
        if row[k]:
            problems.append(f"{label}: {row[k]} {k}")
    return problems


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


class StripHtml(Workload):
    """strip_pass with a frozen phrase table over html pages."""

    name = "strip_html"

    def min_docs(self) -> int:
        return 1

    def run(self, spark, corpus, out_dir, tr):
        out = os.path.join(out_dir, "extracted")
        phrases = self.shape.templates()
        with tr.span("run"):
            wall, _ = _timed(
                lambda: _write(extraction.strip_pass(corpus.pages(spark), phrases), out)
            )
        return Outcome(wall, [out])


class PipelineSites(Workload):
    """run_extraction_pipeline over many sites, then a crash-resume."""

    name = "pipeline_sites"
    resumable = True

    def min_docs(self) -> int:
        return 2  # 2 pages per site: every footer stays a phrase

    def _pipeline(self, spark, corpus, ckpt):
        return pipeline.run_extraction_pipeline(
            spark, corpus.pages(spark), ckpt, min_docs=self.min_docs(),
            ngrams=self.ngrams, strategy="distributed",
        )

    def run(self, spark, corpus, out_dir, tr):
        ckpt = os.path.join(out_dir, "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        with tr.span("run"):
            wall, first = _timed(lambda: self._pipeline(spark, corpus, ckpt))
        store = pipeline.CheckpointStore(ckpt)
        phrases = [r["phrase"] for r in store.read_table(spark, "phrases").collect()]
        return Outcome(wall, [store.table_path("extracted")], phrases,
                       facts={"ran": first["ran_stages"]})

    def resume(self, spark, corpus, out_dir, tr):
        ckpt = os.path.join(out_dir, "ckpt")
        # crash before the extract commit: drop the last snapshot manifest
        snaps = pipeline.CheckpointStore(ckpt)._snapshot_files()  # noqa: SLF001 - benchmark-side fault injection
        os.remove(os.path.join(ckpt, "_snapshots", snaps[-1]))
        with tr.span("resume"):
            secs, again = _timed(lambda: self._pipeline(spark, corpus, ckpt))
        return secs, again["ran_stages"]

    def check(self, spark, corpus, outcome):
        problems = super().check(spark, corpus, outcome)
        if outcome.facts["ran"] != ["phrases", "extract"]:
            problems.append(f"stages ran {outcome.facts['ran']}, want phrases+extract")
        return problems

    def check_resume(self, spark, corpus, out_dir, ran):
        # only the extract stage ran, and it rewrote the whole output
        problems = [] if ran == ["extract"] else [f"resume ran {ran}, want extract"]
        path = pipeline.CheckpointStore(os.path.join(out_dir, "ckpt")).table_path("extracted")
        return problems + check_extracted(spark, corpus, spark.read.parquet(path), path)


def make(name: str) -> Workload:
    """The benchmark's workloads at their benchmark sizes."""
    if name == "strip_html":
        return StripHtml(CorpusShape(n_pages=16000, n_sites=5, html=True))
    if name == "pipeline_sites":
        # > 2048 frequent words (6 per site): the bitmap word gate
        return PipelineSites(
            CorpusShape(n_pages=700, n_sites=350, html=False, template_tenths=2))
    raise KeyError(name)


#: The workloads BENCHMARK.json lists.
NAMES = ("strip_html", "pipeline_sites")
