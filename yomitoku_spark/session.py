"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime skew-join splitting, partition coalescing), shuffle partitions
sized to cores rather than the 200 default, Arrow enabled for the
pandas-UDF stages, UTC session timezone so parquet timestamps compare
byte-stably against the DuckDB oracle. Sizes come from the host or the
launcher: Spark's own ``local[*]``, ``defaultParallelism``, a heap share.
"""

from __future__ import annotations

import json
import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def engine_conf() -> dict[str, str]:
    """Every key ``get_spark`` sets but shuffle partitions (from the session)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # ContextCleaner only reclaims shuffle files / broadcast blocks
        # when driver GC collects their references; with a large heap a
        # long session (the 59-query bench, a day-long cluster app)
        # accumulates them for the default 30 MINUTES, and that
        # block-manager pressure bleeds into later queries' walls.
        # A 1-minute periodic GC bounds the accumulation at a cost of
        # ~10ms/min of driver GC — same setting a long-lived cluster
        # driver would run with.
        "spark.cleaner.periodicGC.interval": "1min",
        # The two launch keys below take effect only when get_spark itself
        # launches the driver JVM (plain python); under spark-submit pass
        # --driver-memory and --driver-java-options instead. The heap is
        # the JVM's own default share of physical memory, a quarter: local
        # mode runs the Python workers beside it.
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM") or f"{phys // 4 >> 20}m",
        # ...and make that explicit System.gc() a CONCURRENT G1 cycle
        # instead of a stop-the-world full GC, so the periodic cleanup
        # costs background CPU rather than a multi-hundred-ms pause
        # landing inside whatever query is running when it fires
        "spark.driver.extraJavaOptions": "-XX:+ExplicitGCInvokesConcurrent",
    }


def get_spark(
    app: str = "yomitoku_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session: arguments, then spark-submit's conf, win over ``engine_conf()``."""
    launched: set[str] = set()
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the JVM and holds its conf; probing under
        # plain python would launch the JVM before the heap is applied
        SparkContext._ensure_initialized()
        launched = {k for k, _ in SparkConf().getAll()}
    conf = {k: v for k, v in engine_conf().items() if k not in launched}
    if shuffle_partitions is not None:
        conf[SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    if master:
        conf["spark.master"] = master
    spark = SparkSession.builder.appName(app).config(map=conf).getOrCreate()
    if SHUFFLE_PARTITIONS not in conf and SHUFFLE_PARTITIONS not in launched:
        sc = spark.sparkContext
        n = str(sc.defaultParallelism)
        # on the live context conf too: newSession() starts from it, not
        # from this session's settings
        sc._conf.set(SHUFFLE_PARTITIONS, n)
        spark.conf.set(SHUFFLE_PARTITIONS, n)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def conf_line(spark: SparkSession) -> str:
    """One JSON line: the session's master and the value in effect for
    every key ``get_spark`` sets."""
    conf = {k: spark.conf.get(k) for k in [SHUFFLE_PARTITIONS, *engine_conf()]}
    return json.dumps({"master": spark.sparkContext.master, **conf})


def fan_out(df):
    """Round-robin ``repartition(defaultParallelism)`` of a SMALL scan
    before expensive per-row map work (optimization guide §2.5 input
    skew: a sub-row-group parquet file arrives as 1-2 partitions,
    serializing every downstream map — tokenization, shingling, Arrow
    UDFs — on one or two cores regardless of cluster size).

    Size-adaptive in BOTH directions: when the relation is already
    backed by at least ``defaultParallelism`` input files the exchange
    is skipped entirely — at 100 TB a blanket repartition to the core
    count would funnel the whole input into a few giant partitions
    (the opposite of the guide's advice), while the scan itself
    already yields ample parallel splits. The probe is
    ``DataFrame.inputFiles()`` (driver-side listing, already cached by
    the read — measured ~6 ms). Derived relations (no backing files)
    keep the fan-out.

    File count is not split count, in either direction. A large file
    yields several splits, so there the gate errs toward keeping the
    fan-out. But small files are packed into one split up to
    ``spark.sql.files.openCostInBytes``, and a plan with several scans
    (a join or union) counts the files of all its leaves, unrelated to
    this frame's partitioning; in both cases the gate can skip the
    fan-out while the map work still runs on few cores. ROADMAP
    direction 7 replaces this gate with a price over partition count
    and plan size.
    """
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= par:
        return df
    return df.repartition(par)
