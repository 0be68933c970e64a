"""SparkSession factory tuned for the sandbox (local[N]) while keeping
cluster-correct defaults: AQE on, Arrow on, shuffle partitions sized to
parallelism (not the 200 default), UTC timestamps.

This is the LOCAL harness helper (tests/bench): it pins
master=local[N] unless a master is already configured (spark-submit
sets spark.master, which must win — a hardcoded local master would
silently run a cluster job driver-only). Cluster entry points
(jobs/validate_job.py, the emitted pipeline runner) use the plain
builder and inherit everything from spark-submit.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


_MEM_UNITS = {"b": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _mem_mb(size: str) -> "int | None":
    """JVM memory string -> whole MiB, parsed the way Spark's
    ``JavaUtils.byteStringAs(s, MiB)`` reads ``spark.driver.memory``:
    an integer with an optional unit (``k``/``m``/``g``/``t``/``p``,
    each optionally followed by ``b``, or a bare ``b``); a bare number
    means MiB. Returns None for anything Spark would reject (or a size
    under 1 MiB), so callers can fall back instead of raising."""
    m = re.fullmatch(r"(\d+)(?:([kmgtp])b?|(b))?", size.strip().lower())
    if not m:
        return None
    unit = m.group(2) or m.group(3) or "m"
    mb = (int(m.group(1)) << _MEM_UNITS[unit]) >> 20
    return mb if mb >= 1 else None


def _phys_mb() -> "int | None":
    """Physical RAM of this host in MiB (None where sysconf lacks it)."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, OSError, ValueError):
        return None


def _default_driver_mem(phys_mb: "int | None") -> str:
    """min(48g, ~60% of physical RAM): the 48g dedicated-host default
    would pre-size a heap larger than a small host can map."""
    if phys_mb is None:
        return "48g"
    return f"{min(48 * 1024, phys_mb * 6 // 10)}m"


def _driver_java_options(driver_mem: str, phys_mb: "int | None") -> str:
    """ParallelGC plus a pre-sized heap (-Xms = -Xmx, young gen = 1/3,
    at least 1m). The pre-size is left out when the size cannot be
    parsed or exceeds physical RAM: the JVM would die at start."""
    opts = "-XX:+UseParallelGC"
    heap = _mem_mb(driver_mem)
    if heap is None or (phys_mb is not None and heap > phys_mb):
        return opts
    return f"{opts} -Xms{heap}m -Xmn{max(heap // 3, 1)}m"


def get_spark(
    app_name: str = "automatic_data_validator_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local core count; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to max(parallelism, 32) — at cluster
    scale this is set per-job via spark-submit; AQE coalesces down.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 32)
    phys_mb = _phys_mb()
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(phys_mb)
    builder = SparkSession.builder
    # Respect an externally-provided master. PYSPARK_SUBMIT_ARGS alone
    # is NOT a reliable signal: spark-submit launches the python driver
    # attached to an ALREADY-RUNNING JVM (PYSPARK_GATEWAY_PORT) whose
    # system properties carry the submitted spark.master — the env var
    # is only set for gateway-launching (pyspark-shell style) runs. So
    # check, in order: an active session, an attached submit gateway,
    # the env var, and finally the JVM-reflecting SparkConf (round-2
    # ADVICE: the old check silently ran `--master yarn` jobs
    # driver-only under local[N]).
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    master_configured = (
        SparkSession.getActiveSession() is not None
        or bool(os.environ.get("PYSPARK_GATEWAY_PORT"))
        or "--master" in submit_args
        or "spark.master" in submit_args
    )
    if not master_configured:
        try:
            from pyspark import SparkConf

            master_configured = SparkConf(loadDefaults=True).contains("spark.master")
        except Exception:
            master_configured = False
    if not master_configured:
        builder = builder.master(f"local[{parallelism}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # status-store stage retention: the scan-count guard reads
        # cumulative per-stage input metrics; default eviction (1000)
        # would silently shrink deltas in long sessions
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scan-parallelism floor for small inputs (guide §2/§6): Spark
        # sizes splits as min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes/defaultParallelism)) — the 4MB openCost default
        # (sized for spinning disks) floors the split size, so a 6-25MB
        # table scans in 2-7 tasks on 32 cores and every downstream
        # per-row operator (Arrow UDF signing included) runs at 1/5th
        # the machine. 256KB matches NVMe/object-store open cost;
        # LARGE inputs are unaffected (totalBytes/parallelism then
        # dominates the max, capped by maxPartitionBytes as before) —
        # i.e. the change is scale-adaptive by construction, not a
        # local[32] constant. Parameterized for cluster profiles.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "262144"),
        )
        # Throughput GC: at high local thread counts the default G1
        # collector serializes allocation-heavy operators (nested-array
        # scans, HLL over structs) — measured 8x slower at local[32].
        # ParallelGC restores near-linear scaling for this workload.
        # The driver heap is PRE-SIZED (-Xms = -Xmx, young gen = 1/3):
        # ParallelGC's adaptive sizing otherwise starts small and grows
        # the heap across the first jobs, and every expansion round
        # costs allocation-failure pauses — measured as the first
        # identical e2e trial running 1.5-2x the steady state
        # (13.3/8.9/6.3 s -> 8.6/5.4/5.1 s with pre-sizing). Standard
        # dedicated-host practice; derived from the configured driver
        # memory, so a smaller $SPARK_DRIVER_MEM scales it down.
        .config(
            "spark.driver.extraJavaOptions",
            _driver_java_options(driver_mem, phys_mb),
        )
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame over driver-held rows (tuples in ``schema`` field
    order), built as an Arrow table so it plans as a JVM
    ``LocalRelation`` (an Arrow RDD above
    ``spark.sql.execution.arrow.localRelationThreshold``).
    ``createDataFrame(<list>)`` instead plans as ``Scan ExistingRDD``
    over a pickled Python RDD, so every action on it starts Python
    workers. The Arrow cast still rejects a None in a non-nullable
    field. ``schema`` is a StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    width = len(arrow_schema)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row must have {width} fields")
    columns = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


