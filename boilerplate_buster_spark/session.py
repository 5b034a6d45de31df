"""SparkSession builder with the engine's scale-hygiene defaults.

Design notes (100 TB posture, SURVEY.md section 4):
  - AQE on: runtime shuffle-partition coalescing + skew-join splitting cover
    the head-phrase skew that the reference handles with nothing (it is
    single-node); explicit salting is still applied where AQE can't see it
    (collect-style aggregations, operators/bloomspan.py).
  - shuffle.partitions scales with local cores here; on a real cluster this
    is a submit-time setting (2-3x total executor cores) and AQE coalesces.
  - Arrow enabled for the few pandas-UDF stages (page parse, multimodal);
    everything else stays in whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "boilerplate-buster-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # local-mode Python workers inherit PYTHONPATH from the driver process
    # env, not from driver sys.path - make the package importable in UDFs
    # regardless of cwd (cluster mode ships it via spark-submit --py-files)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; local[*]/cluster -> cores
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*")) if "[" in master else cpus
        except ValueError:
            shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is a memory-BANDWIDTH knob at saturated scale AND
        # a fixed-overhead knob at small scale - both measured here:
        #   * 3.84M pages, local[32] (bandwidth-bound): 1000-row batches make
        #     the strip phase 2.8x faster (each Python worker's working set
        #     stays cache-resident; ~8 concurrent 10k-row streams saturate
        #     node DRAM - BENCH/BASELINE.md round-3 attribution);
        #   * 20k pages, sf0.1 bench (latency-bound): 1000-row batches cost
        #     ~25% on the same stage (more Arrow round trips, corpus far
        #     below bandwidth saturation - round-4 A/B).
        # Default stays Spark's 10000; big bandwidth-bound runs opt in via
        # SPARK_GRAFT_ARROW_BATCH=1000 (tools/submit_extract.py does).
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # 16g measured sweet spot for multi-million-page local runs: 8g OOMs
        # local[32] on a 3.84M-page corpus, 48g HALVES throughput (GC
        # behavior at large heaps) - see BENCH/BASELINE.md heap study
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner pick shuffled-hash join when its size conditions
        # hold, avoiding both sort passes.  Its static gate is
        # autoBroadcastJoinThreshold x shuffle partitions on optimizer
        # estimates, and the hash build side does not spill, so a
        # misestimated or skewed build side can OOM where sort-merge spills;
        # get_spark(extra_conf={"spark.sql.join.preferSortMergeJoin": "true"})
        # restores sort-merge
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def iceberg_conf(
    catalog: str = "local",
    warehouse: str = "spark-warehouse/iceberg",
    catalog_impl: str = "org.apache.iceberg.spark.SparkCatalog",
    catalog_type: str = "hadoop",
) -> dict[str, str]:
    """Session conf for a real Iceberg catalog - pass as
    ``get_spark(extra_conf=iceberg_conf(...))`` (or the same keys via
    ``spark-submit --conf``).  Requires the Iceberg Spark runtime jar on the
    classpath (``--packages org.apache.iceberg:iceberg-spark-runtime-...``
    or a cluster-installed jar); plans.pipeline.make_checkpoint_store probes
    for it and falls back to the parquet CheckpointStore when absent, so the
    same code runs in both environments."""
    return {
        f"spark.sql.catalog.{catalog}": catalog_impl,
        f"spark.sql.catalog.{catalog}.type": catalog_type,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
