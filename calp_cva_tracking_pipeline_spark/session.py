"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every default here is chosen for the
1000-executor / 100 TB deployment this engine targets:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- Broadcast threshold raised: every reference dimension table (isos 248 rows,
  deflators 10k, FX 19k, org-type 20 — BASELINE.md) is far below 64 MB, so
  dimension joins never shuffle the fact table.
- ``spark.sql.shuffle.partitions`` defaults to a multiple of local cores and
  should be ~2-3× total cluster cores in production; AQE coalesces the rest.
- Arrow enabled so Pandas-UDF operators (ML inference, multimodal decode)
  move batches, not rows, across the JVM↔Python boundary.
- Generated-code cache sized so a warm pass reuses every compiled class
  (``CODEGEN_CACHE_MAX_ENTRIES``). The conf is static: it takes effect only
  when the session is built here, never through ``normalize_session``.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Bytes of pre-shuffle input one reducer partition should own. The round-8
# 64× triangle probe (SCALE.md) showed a FIXED spark.sql.shuffle.partitions
# is the real cluster-ops constraint: at 64× data the per-partition hash
# build outgrows executor memory unless the partition count scales with the
# input. 128 MB mirrors files.maxPartitionBytes so scan and shuffle stages
# size tasks by the same rule.
TARGET_SHUFFLE_PARTITION_BYTES = 128 * 1024 * 1024
# Backstop so a mis-estimated plan can't request a million reducers; at
# 100 TB / 128 MB the true need is ~800k partitions — production clusters
# should raise this cap alongside executor count (doc: SCALE.md §shuffle).
MAX_AUTO_SHUFFLE_PARTITIONS = 1 << 17

# Entries in Spark's generated-code cache (spark.sql.codegen.cache.maxEntries,
# default 100). The cache is an LRU, so a pass that cycles through more
# classes than it holds evicts each class before reuse and recompiles all
# of them on every pass. Distinct classes one pass uses, measured on 4 cores
# with a cache that never evicts: perfbench `catalog` 167 and `cva_pipeline`
# 127; in bench.py's suite at sf0.1 the largest single queries are
# pf_release_report 172, dd_dup_census 153 and ann_graph_frontier 134.
# 1000 is ~6x the largest. Static conf: read once, when the session is built.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = "calp-cva-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default minPartitionSize (1m) coalesces small-byte/high-CPU
        # shuffle stages (md5 shingling, per-row scoring) onto 1-2 cores;
        # 64k keeps parallelismFirst actually parallel. At scale partitions
        # are far above either bound, so this only affects the small end.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # PySpark 4's per-API-call Python call-site capture costs 2 extra
        # py4j round trips per DataFrame/Column op (conf.get + origin.set);
        # a wide plan build (ep2: ~900 ops) spends ~40% of its driver time
        # there. Engine errors still carry full SQL context without it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
        .config("spark.ui.enabled", "false")
        # the console progress bar writes \r-spam to stderr; under the
        # bench driver that stderr lands in the published artifact's
        # `tail` field and buries the real output (round-7 verdict)
        .config("spark.ui.showConsoleProgress", "false")
        # local mode hosts every executor thread inside the driver JVM;
        # the 1g default heap on a 32-core box makes any ≥64MB broadcast
        # (the threshold above) an OOM roulette once a few accumulate
        # before the ContextCleaner runs (observed: repeated triangle-
        # census runs). Size the single JVM like the machine it's on.
        .config("spark.driver.memory", "8g")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def autoscale_shuffle_partitions(
    spark: SparkSession,
    df=None,
    input_bytes: int | None = None,
    bytes_per_partition: int = TARGET_SHUFFLE_PARTITION_BYTES,
) -> int:
    """Size ``spark.sql.shuffle.partitions`` from the data, not a constant.

    The round-8 64× replication probe turned up the one knob that does NOT
    take care of itself at scale: AQE *coalesces* oversized partition
    counts but never *raises* an undersized one, so a session tuned for
    sf0.1 silently builds 64×-bigger hash tables at 64× data (SCALE.md
    §shuffle-scaling). This makes the finding engine behavior: pass the
    DataFrame about to be shuffled (or an explicit byte size) and the
    session's shuffle parallelism is raised to
    ``ceil(bytes / bytes_per_partition)`` — never lowered (AQE already
    handles the downward direction at runtime), and clamped by
    ``MAX_AUTO_SHUFFLE_PARTITIONS``.

    Size comes from the optimizer's plan statistics (filter/project-aware
    when CBO stats exist; file-size-derived for raw scans) — a driver-side
    metadata read, no job runs. Returns the partition count now in effect.
    """
    import math

    if input_bytes is None:
        if df is None:
            raise ValueError("pass df or input_bytes")
        if not hasattr(df, "_jdf"):
            # Spark Connect DataFrames carry no JVM handle; plan stats
            # are unreachable there — demand an explicit size instead
            raise ValueError(
                "optimizer plan statistics are unavailable on Spark "
                "Connect sessions; pass input_bytes explicitly"
            )
        input_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    need = max(1, math.ceil(input_bytes / bytes_per_partition))
    n = min(MAX_AUTO_SHUFFLE_PARTITIONS, max(current, need))
    if n != current:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def normalize_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf this engine relies on to a foreign session.

    The correctness driver constructs its own SparkSession; queries route
    through this so results are timezone/ANSI-stable regardless of who built
    the session. Also ships this package to executor Python workers
    (pandas_udf / mapInPandas closures reference it by module name, and a
    driver process launched outside the repo root won't propagate its
    sys.path to workers).
    """
    # conf.set is a py4j round trip; normalize once per session (T() calls
    # this on every table read — the guard keeps that O(1) driver-side)
    if not getattr(spark, "_calp_normalized", False):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # runtime-settable perf conf (see get_spark): keep CPU-heavy
        # small-byte shuffle stages parallel instead of size-coalesced
        # onto 1-2 cores
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k"
        )
        # driver-side plan-build cost: disable PySpark's per-call call-site
        # capture (see get_spark). The conf is STATIC (settable only at
        # session build), so for a foreign session flip pyspark's documented
        # cache of it; perf-only — engine errors keep their SQL context.
        try:
            from pyspark.errors import utils as _pyspark_err_utils

            _pyspark_err_utils._enable_debugging_cache = False
        except (ImportError, AttributeError):  # pragma: no cover
            pass
        spark._calp_normalized = True
    _ship_package(spark)
    return spark


def _package_zip_name(pkg_dir: Path, sources: list[Path]) -> str:
    """Name of the shipped package zip, keyed on a content hash of the
    package sources: an edited source gets a new zip, so Python workers
    never import a zip left over from older code."""
    h = hashlib.sha256()
    for py in sources:
        h.update(py.relative_to(pkg_dir).as_posix().encode())
        h.update(b"\0")
        h.update(py.read_bytes())
        h.update(b"\0")
    return f"calp_cva_pkg_{h.hexdigest()[:16]}.zip"


def _ship_package(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, "_calp_pkg_shipped", False):
        return
    import calp_cva_tracking_pipeline_spark as pkg

    pkg_dir = Path(pkg.__file__).resolve().parent
    sources = sorted(pkg_dir.rglob("*.py"))
    zpath = Path(tempfile.gettempdir()) / _package_zip_name(pkg_dir, sources)
    if not zpath.exists():
        tmp = zpath.with_suffix(f".{os.getpid()}.tmp")
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in sources:
                zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
        os.replace(tmp, zpath)
    sc.addPyFile(str(zpath))
    sc._calp_pkg_shipped = True
