"""SparkSession factory.

Local-mode settings chosen so the same code is cluster-ready: AQE on (skew join +
partition coalesce), Arrow enabled for pandas UDFs, shuffle partitions ≈ cores
(never the 200 default), UTC session timezone so DuckDB-oracle comparisons are
stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "extraction-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]``.  On a real cluster the master comes from
    spark-submit and these configs are still the right defaults.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    # SPARK_GRAFT_MASTER overrides local mode with a real cluster master URL
    # (bench/cluster.py's standalone cluster; a deployment's spark-submit).
    # ``cores`` then means TOTAL cluster cores and still sizes the shuffle
    # partitioning below.
    master = os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{cores}]" if cores and cores > 0 else "local[*]"
    )
    if shuffle_partitions is None:
        # 2× the core count, not 1×: with reducers == cores one slow/skewed
        # reduce partition stalls the whole tail (measured: the 120k-doc
        # extraction at pinned 8 cores ran 75 s with 8 shuffle partitions vs
        # 22.6 s with 16; ~7% at 2 cores; a wash at 32).  AQE coalesces the
        # extra partitions away whenever stages are small, so the slack is
        # free.
        shuffle_partitions = 2 * (cores if cores and cores > 0 else (os.cpu_count() or 8))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Media payloads are decoded on the SCAN partitions (no payload
        # shuffle); smaller splits keep the Arrow-UDF stage parallel even for
        # modest inputs.  At cluster scale this is the per-executor knob too.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # One receipts op (materialize_run + extract_documents) generates
        # ~120 distinct classes, more than the default 100-entry codegen
        # cache holds, so LRU eviction made every repeat of the op recompile
        # ~100 classes (1.5-2.4 s of janino per op on a 4-core host); with
        # room for them a repeated op compiles none.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if os.environ.get("SPARK_GRAFT_PIN_HEAP") == "1":
        # Pin the heap (-Xms == -Xmx) and pre-touch it: without this, G1
        # repeatedly uncommits idle regions and re-commits them at the next
        # query, and the kernel-side page churn showed up as 300+ s of JVM
        # *system* time on identical re-runs (measured: dedup_minhash_lsh at
        # sf0.1/32c swung 3.2-21.8 s; pinned heap bounds it at 3.9-6.6 s with
        # jvm_sys 5-13 s).  OPT-IN (bench scripts set it): committing +
        # page-touching the full heap at JVM start fails or thrashes on hosts
        # with less free RAM than the configured heap, which is the wrong
        # default for dev/test sessions.  On a cluster the same flags belong
        # in spark.executor.extraJavaOptions (-Xmx itself must stay under
        # spark.{driver,executor}.memory control).
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g')} -XX:+AlwaysPreTouch",
        )
    if os.environ.get("SPARK_GRAFT_ICEBERG") == "1":
        # Opt-in Iceberg catalog wiring (ICEBERG.md) — requires the
        # iceberg-spark-runtime jar on the classpath; the sandbox has none,
        # so this path is exercised only on a real deployment.
        builder = (
            builder.config(
                "spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog"
            )
            .config(
                "spark.sql.catalog.lake.type",
                os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "hadoop"),
            )
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.sources.v2.bucketing.enabled", "true")
        )
        warehouse = os.environ.get("SPARK_GRAFT_ICEBERG_WAREHOUSE")
        if warehouse:
            builder = builder.config("spark.sql.catalog.lake.warehouse", warehouse)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
