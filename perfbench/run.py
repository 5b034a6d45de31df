"""Extraction benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload pipeline_sites --seed 1 --seconds 12 --trace 0

Run from the repository root.  Set-up starts a local[nproc] session,
materialises the seeded corpus (three times; the median counts) and runs one
untimed, unchecked warm-up iteration (and, on a checkpointed workload,
RESUME_WARMUP resumes).  Timed iterations then repeat until --seconds of
timed wall have passed and at least MIN_ITERATIONS ran; a checkpointed
workload then times RESUME_SAMPLES crash-resumes in a row.  Each output is
checked against the golden answer outside the timed region.
The last stdout line is the result JSON; the line before it holds host,
configuration and per-iteration details.

--trace 0 reports the end-to-end metrics; --trace 1 runs untraced reference
iterations, one traced iteration, layer probes, kernel throughput and a
local[1] iteration, and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
MIN_ITERATIONS = 3
TRACE_REFERENCE_ITERATIONS = 2
# A resume is about 1 s of small Spark jobs.  Right after each mining
# iteration its time drifted within a run by up to 30%; in a block after
# warm-up resumes, a run's resumes mostly agree within 10-15%.
RESUME_WARMUP = 4
RESUME_SAMPLES = 10
# The program's get_spark default heap is 16g; the workloads here need far
# less, and a 3g cap keeps a run from crowding out the host's other users.
DRIVER_MEMORY = "3g"
YOUNG_GEN = "512m"
G1_REGION = "16m"
_MB = 1024 * 1024

#: Every metric an untraced run reports, with its unit (BENCHMARK.json's
#: end_to_end list).
END_TO_END = (("pages_per_s", "1/s"), ("resume_s", "s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB"))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(master: str, cores: int, work: str):
    from boilerplate_buster_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=master, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            # G1's own sizing moved the JVM's resident size by up to 15%
            # between runs of one seed: it sized the young generation from
            # pause times, and grew the heap at random points, after which
            # humongous Arrow and parquet buffers filled the new room.  So
            # the young size is fixed and the heap is committed at its cap
            # from the start, but not pre-touched: resident size is what the
            # heap has used.  16 MB regions keep buffers under 8 MB out of
            # humongous regions.  Old generation, off-heap and Python memory
            # follow the program.  No hsperfdata file outside the checkout.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} "
                f"-XX:G1HeapRegionSize={G1_REGION} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={work}/tmp"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Bench:
    def __init__(self, args, work: str):
        import workloads

        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.w = workloads.make(args.workload)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # -- one checked iteration -------------------------------------------------
    def iterate(self, spark, corpus, tr, sampler=None, check=True):
        """Run + check one iteration -> (Outcome, peak memory bytes) or None."""
        from spans import Tracer

        self.attempted += check
        t0 = time.time()
        try:
            out = self.w.run(spark, corpus, os.path.join(self.work, "out"),
                             tr or Tracer(False))
            t1 = time.time()
            problems = self.w.check(spark, corpus, out) if check else []
        except Exception:  # a failing program is a result, not a crash
            traceback.print_exc()
            self.fail(["iteration raised"])
            return None
        spark.catalog.clearCache()
        if problems:
            self.fail(problems)
        return out, (sampler.peak(t0, t1) if sampler else 0)

    def resume(self, spark, corpus, tr, check=True):
        """Crash-resume the last iteration's checkpoint and check it
        -> seconds, or None."""
        from spans import Tracer

        self.attempted += check
        out_dir = os.path.join(self.work, "out")
        try:
            secs, ran = self.w.resume(spark, corpus, out_dir, tr or Tracer(False))
            problems = self.w.check_resume(spark, corpus, out_dir, ran) if check else []
        except Exception:
            traceback.print_exc()
            self.fail(["resume raised"])
            return None
        spark.catalog.clearCache()
        if problems:
            self.fail(problems)
        return secs

    def fail(self, problems: list[str]) -> None:
        self.failed += 1
        self.problems += problems
        print(f"failed: {problems}", file=sys.stderr)

    def setup(self):
        from workloads import materialise

        t0 = time.perf_counter()
        spark = start_spark(f"local[{self.cores}]", self.cores, self.work)
        session_s = time.perf_counter() - t0
        mats, corpus = [], None
        for i in range(SETUP_REPEATS):
            path = os.path.join(self.work, f"corpus{i}")
            t0 = time.perf_counter()
            corpus = materialise(spark, self.w.shape, self.args.seed, path)
            mats.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(self.work, f"corpus{i - 1}"))
        self.w.expected_phrases(corpus)  # every template must clear min_docs
        t0 = time.perf_counter()
        if self.iterate(spark, corpus, None, check=False) is None:
            raise RuntimeError("warm-up iteration failed: " + "; ".join(self.problems))
        for _ in range(RESUME_WARMUP if self.w.resumable else 0):
            if self.resume(spark, corpus, None, check=False) is None:
                raise RuntimeError("warm-up resume failed")
        warm_s = time.perf_counter() - t0
        self.setup_parts = {"session_s": session_s, "materialise_s": mats,
                            "warmup_s": warm_s}
        return spark, corpus, session_s + statistics.median(mats) + warm_s

    def timed(self, spark, corpus, sampler, seconds, min_iterations):
        walls, peaks = [], []
        while sum(walls) < seconds or len(walls) < min_iterations:
            got = self.iterate(spark, corpus, None, sampler)
            if got is None:
                break
            out, peak = got
            walls.append(out.wall_s)
            peaks.append(peak)
        return walls, peaks

    def timed_resumes(self, spark, corpus, walls) -> list[float]:
        """Resume times; where the extract stage is the whole iteration, its
        redo time is the iteration wall."""
        if not self.w.resumable:
            return walls
        secs = [self.resume(spark, corpus, None) for _ in range(RESUME_SAMPLES)]
        return [s for s in secs if s is not None]

    def run(self) -> dict:
        from host import MemorySampler, host_facts

        facts = host_facts()
        with MemorySampler() as sampler:
            spark, corpus, setup_s = self.setup()
            # a traced run needs untraced iterations as its reference
            walls, peaks = self.timed(
                spark, corpus, sampler,
                0 if self.args.trace else self.args.seconds,
                TRACE_REFERENCE_ITERATIONS if self.args.trace else MIN_ITERATIONS,
            )
        if not walls:
            raise RuntimeError("no timed iteration succeeded")
        n = self.w.shape.n_pages
        details = {
            "workload": self.w.name, "seed": self.args.seed,
            "n_pages": n, "n_sites": self.w.shape.n_sites,
            "min_docs": self.w.min_docs(), "host": facts,
            "spark": spark_conf(spark, self.cores),
            "setup": self.setup_parts, "walls_s": walls,
            "peaks_mb": [p / _MB for p in peaks],
        }
        if self.args.trace:
            metrics, trace_facts = self.traced(spark, corpus, n / statistics.median(walls),
                                               statistics.median(walls))
            details["trace"] = trace_facts
        else:
            resumes = self.timed_resumes(spark, corpus, walls)
            if not resumes:
                raise RuntimeError("no timed resume succeeded")
            details["resumes_s"] = resumes
            units = dict(END_TO_END)
            e2e = {
                "pages_per_s": n / statistics.median(walls),
                "resume_s": statistics.median(resumes),
                "setup_s": setup_s,
                "peak_rss_mb": statistics.median(peaks) / _MB,
            }
            metrics = {k: (v, units[k]) for k, v in e2e.items()}
            spark.stop()
        details["failed_ratio"] = self.failed / self.attempted
        details["problems"] = self.problems[:20]
        print(json.dumps({"details": details}))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # -- traced run ------------------------------------------------------------
    def traced(self, spark, corpus, pps, untraced_wall):
        import layers

        res = layers.traced_iteration(self, spark, corpus)
        metrics = dict(res.metrics)
        metrics["trace.overhead_ratio"] = (res.run_wall / untraced_wall - 1, "ratio")
        metrics.update(layers.kernel_metrics(spark))
        spark.stop()
        # the same iteration on one core: BASELINE.json's N-vs-4N scaling rule
        spark1 = start_spark("local[1]", self.cores, self.work)
        got = self.iterate(spark1, corpus, None)
        spark1.stop()
        if got is None:
            raise RuntimeError("local[1] iteration failed")
        pps1 = self.w.shape.n_pages / got[0].wall_s
        metrics["spark.local1.pages_per_s"] = (pps1, "1/s")
        metrics["spark.parallel_eff_1v4"] = (pps / (self.cores * pps1), "ratio")
        metrics["sources.materialise_s"] = (
            statistics.median(self.setup_parts["materialise_s"]), "s")
        if {k: u for k, (_, u) in metrics.items()} != dict(layers.PER_LAYER):
            raise RuntimeError("traced metrics differ from layers.PER_LAYER")
        return metrics, res.facts


def stop_jvm() -> None:
    """Stop the session and end the JVM PySpark launched, waiting for it.
    The gateway exits when its stdin closes; Python workers end with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def spark_conf(spark, cores: int) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "version": spark.version,
        "jdk": spark.sparkContext._jvm.System.getProperty("java.runtime.version"),
        "master": spark.sparkContext.master,
        "cores": cores,
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "arrow_batch": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)  # the program under test, from this checkout
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = Bench(args, work).run()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
