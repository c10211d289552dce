"""SparkSession factory with scale-oriented defaults.

The sandbox runs a single JVM (``local[N]``); the configuration below
is nevertheless chosen for a 1000-executor cluster reading ~100 TB:

* AQE on (runtime shuffle coalescing + skew-join splitting) — hot web
  domains produce skewed keys, AQE splits oversized partitions.
* Arrow batches capped at 2k rows so a pandas-UDF batch of 512-token
  segments (up to ~131k candidate spans each, n(n+1)/2 at n=512 —
  reference caps segments at 512 subtokens, /root/reference/
  datautils.py:1371-1437) stays well inside executor memory.
* ``spark.sql.files.maxPartitionBytes`` left at default 128 MB: pages
  tables are wide (html binary) so a scan task stays ~O(100 MB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def planned_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df``'s output as its physical plan fixes it
    before anything runs, or None when only execution can tell.

    Reads the plan and nothing else. ``df.rdd.getNumPartitions()`` is
    not a planning call under AQE: building the RDD of an adaptive plan
    runs its query stages, so probing an anti-joined input that way
    executed the join's shuffle and broadcast jobs."""
    plan = df._jdf.queryExecution().executedPlan()
    adaptive = plan.nodeName() == "AdaptiveSparkPlan"
    # the adaptive plan's initial form carries the exchanges
    # EnsureRequirements inserts, before any stage has run
    return _plan_width(plan.initialPlan() if adaptive else plan, adaptive)


def _plan_width(node, adaptive: bool) -> int | None:
    kind = node.getClass().getSimpleName()
    if kind == "ShuffleExchangeExec":
        width = node.outputPartitioning().numPartitions()
        # AQE may coalesce or split a shuffle at runtime, except an
        # explicit repartition(n) and a single-partition exchange
        fixed = (not adaptive or width == 1
                 or node.shuffleOrigin().toString() == "REPARTITION_BY_NUM")
        return width if fixed else None
    if kind in ("CollectLimitExec", "TakeOrderedAndProjectExec"):
        return 1
    if kind == "FileSourceScanExec":
        if not node.subqueries().isEmpty():
            return None  # dynamic partition pruning: the files depend on a subquery
        return node.inputRDD().getNumPartitions()  # file splits: listing only
    if kind in ("LocalTableScanExec", "RangeExec", "RDDScanExec"):
        return node.execute().getNumPartitions()  # builds the RDD, runs no job
    if kind == "InMemoryTableScanExec":
        # a cache's width is known once it is built; building it is a job
        builder = node.relation().cacheBuilder()
        if not builder.isCachedColumnBuffersLoaded():
            return None
        return builder.cachedColumnBuffers().getNumPartitions()
    # a broadcast side never sets the width of the join that reads it
    children = [node.children().apply(i) for i in range(node.children().size())]
    children = [c for c in children
                if c.getClass().getSimpleName() != "BroadcastExchangeExec"]
    widths = [_plan_width(c, adaptive) for c in children]
    if not widths or None in widths:
        return None  # an unknown leaf, or a width set at runtime below
    if kind == "UnionExec" and node.outputPartitioning().numPartitions() == 0:
        return sum(widths)  # a plain RDD union concatenates partitions
    if kind == "CoalesceExec":
        return min(node.numPartitions(), widths[0])
    return widths[0]  # narrow operators and co-partitioned joins


def ensure_scan_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a NARROW source up to the session's
    default parallelism when the file layout under-splits it.

    A parquet file is only splittable at row-group boundaries, so a
    single-row-group file (or a gzip text file) pins every downstream
    map stage — Arrow passes, explodes, regex projections — to ONE
    task regardless of cluster size (guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").
    The repartition moves only the narrow source rows once; at real
    scale inputs arrive pre-split into >= parallelism partitions and
    this is a no-op. The probe is :func:`planned_partitions`, which
    reads the physical plan and runs no job for any input. When the
    plan leaves the width to runtime (an AQE-sized shuffle, an unbuilt
    cache), the input is widened: AQE sizes partitions by bytes, and
    narrow rows bound for a CPU-heavy pass coalesce into too few.
    Derived heavy columns (html wrap, token explode, signatures)
    must be computed AFTER this call so only source bytes shuffle."""
    sc = df.sparkSession.sparkContext
    target = int(min_partitions or sc.defaultParallelism)
    width = planned_partitions(df)
    if width is not None and width >= target:
        return df
    return df.repartition(target)


def _launcher_has_master() -> bool:
    """True only when a launcher actually configured a master.

    Direct signals, strongest first: an already-running JVM gateway
    (spark-submit's PythonRunner exports PYSPARK_GATEWAY_PORT) whose
    conf carries spark.master, or an explicit --master in
    PYSPARK_SUBMIT_ARGS (pyspark shell). Merely having sourced
    load-spark-env.sh (SPARK_ENV_LOADED — inherited by every child
    process) is NOT a master: keying off it made plain `python x.py`
    fail with 'A master URL must be set'."""
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        # the launcher's JVM exists: its system properties are the
        # truth — read them instead of guessing from env vars
        from pyspark import SparkConf

        return SparkConf(loadDefaults=True).contains("spark.master")
    return "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")


def get_spark(
    app_name: str = "qizner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` resolution: explicit arg > QIZNER_SPARK_MASTER env >
    whatever the launcher set (spark-submit's cluster manager) >
    local[*]. Under spark-submit, leave master unset so --master /
    --num-executors apply — hard-coding local[*] here would silently
    turn a cluster job into a single-JVM one.
    """
    master = master or os.environ.get("QIZNER_SPARK_MASTER")
    if not master and not _launcher_has_master():
        master = "local[*]"  # plain `python x.py` needs SOME master
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("QIZNER_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # pin the RPC endpoints IN LOCAL MODE ONLY: sandboxed hosts
        # often have blackhole DNS and any resolution attempt stalls
        # jobs 60-120 s (measured). On a real cluster the driver host
        # must be reachable by executors — pinning loopback there
        # would break executor registration.
        builder = (
            builder.config("spark.driver.host", "127.0.0.1")
            .config("spark.driver.bindAddress", "127.0.0.1")
        )
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size reduce-side parallelism with AQE instead of the static
        # shuffle-partition count (guide §2.2): shuffles START wide —
        # at least 2x the local core count — and AQE coalesces them
        # back down by size at runtime. minPartitionSize is lowered
        # from the 1 MB default because the engine's hot reduce stages
        # (pair enumeration, per-doc windows, signature verification)
        # are CPU-bound, not IO-bound: a "small" 1 MB partition can
        # still carry seconds of compute, and coalescing below the
        # machine's parallelism serializes it. At warehouse scale both
        # knobs are inert (partitions sit >= the 64 MB advisory size);
        # override via env for cluster-specific tuning.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "QIZNER_INITIAL_SHUFFLE_PARTITIONS",
                str(max(shuffle_partitions, 2 * (os.cpu_count() or 16))),
            ),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("QIZNER_MIN_PARTITION_SIZE", "128k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("QIZNER_DRIVER_MEM", "8g"))
        # Broadcast joins for alias dictionaries / small dims up to 64 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
