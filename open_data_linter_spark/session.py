"""SparkSession factory with scale-oriented defaults.

The same configuration is used for tests (local[8]) and bench runs
(local[$SPARK_GRAFT_CPUS]); on a real cluster only master/memory change.
AQE is always on (skew-join splitting + partition coalescing), Arrow is on
for every pandas-UDF boundary, and the broadcast threshold is explicit so
dim-table anti-joins (rule 1-12 analog) never degrade to sort-merge.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "open-data-linter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # local mode: shuffle width = core count; on a cluster this would be
        # ~2-3x total executor cores (AQE coalesces downward at runtime).
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else cores
        except ValueError:
            n = cores
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE: coalescePartitions.minPartitionSize stays at the 1MB
        # default. Lowering it to 16kb session-wide widens every
        # heavy-compute-on-small-rows stage (span_removal 3.6s -> 1.9s at
        # sf0.1) but costs the validation matrix ~19% in tiny-task
        # scheduling overhead across its concurrent families — operators
        # that hit the 1-task funnel pin their own boundary with an
        # explicit fixed-count repartition instead (dedup/embedding.py,
        # dedup/spans.py pattern).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # audio payloads are large: cap Arrow batches so decode UDFs never
        # materialize huge pandas frames per batch (512 x ~60KB ≈ 30MB;
        # measured 2-3x faster than 2048 on the decode+SNR pass)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # explicit (it is the default): decode-pass python workers survive
        # across the run's many actions — worker spin-up is a per-action
        # core-count-independent cost otherwise (BENCH/BASELINE.md floor)
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # declared results are materialized to the driver by the bench
        # contract; the largest (fuzzy_link_parts, ~48M rows at sf1.0)
        # sits near the 1g default task-result cap — headroom, not a
        # behavior change (the same rows were always collected)
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


_PKG_ZIP = "open_data_linter_spark_pkg.zip"


def _ship_package(spark: SparkSession) -> None:
    """Make the engine importable on executors regardless of launch cwd.

    Equivalent of ``spark-submit --py-files odl_spark.zip`` (the north rule's
    deployment mode): zip the package and addPyFile it, so Python workers on
    any executor can unpickle our pandas-UDF closures. Shipped once per
    SparkContext: every zip on the workers' path is one more importer that
    each Python task re-scans, so a second ``get_spark`` on a live context
    adds nothing.
    """
    sc = spark.sparkContext
    if _PKG_ZIP in sc._python_includes:
        return
    try:
        sc.addPyFile(_package_zip())
    except OSError:
        # a read-only tmp — not fatal when the package is importable from
        # the workers' cwd anyway
        pass


@functools.cache
def _package_zip() -> str:
    """Zip the package once per process, into a directory of its own: two
    processes starting sessions at once never write the same file."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zdir = tempfile.mkdtemp(prefix="odl_spark_pkg-")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, _PKG_ZIP)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "open_data_linter_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return zpath
