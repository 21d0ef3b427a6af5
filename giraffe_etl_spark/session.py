"""SparkSession factory tuned for the CDC apply workload.

Scale posture (designed for 1000-executor / 100 TB, tested on local[N]):
- AQE on: runtime coalescing + skew-join splitting.
- Arrow on: every Python-side transform is an Arrow-batched pandas UDF.
- shuffle partitions scale with parallelism (caller passes cores).
"""

from __future__ import annotations

import os
import tempfile
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "giraffe-etl-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``.  ``shuffle_partitions`` defaults to
    2x cores locally (on a real cluster you would size this to
    total-cores * 2..3 and let AQE coalesce).
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES; stages that run
        # pandas UDFs after a shuffle would be coalesced to a handful of
        # tasks (measured: 9 tasks for a 42 MB winner set) and lose all
        # Python-side parallelism.  Floor the coalescing at core count.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", str(cores))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_SPLIT_BYTES", "134217728"),
        )
        # local mode: one JVM hosts every task thread.  Measured on this
        # host (120k-event CDC apply, local[32], warm JVM): a 24g heap
        # is 10x SLOWER than 8g (7.5s vs 81s) — G1 sizes its young gen
        # to the heap, and every young collection then touches GBs of
        # fresh pages, which this VM's hypervisor serves glacially.  A
        # flat 8g is the measured best across local[1..32]; it also
        # matches a sane per-executor heap on a real cluster.
        # SPARK_DRIVER_MEM overrides.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Commit the whole heap at JVM start (-Xms = -Xmx) and touch
        # every page once (AlwaysPreTouch): this hypervisor hands out
        # fresh pages glacially, so an un-touched heap charges its
        # page-zeroing to the FIRST big job that grows into it —
        # measured ~5 s on the first 2M-event apply at local[4] (25.0 s
        # cold vs 19.9 s warm; 20.9 vs 20.3 with pre-touch).  Paying it
        # at startup moves an environment cost out of every job,
        # matching a long-lived production driver's steady state.
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARK_DRIVER_MEM", "8g")
            + " -XX:+AlwaysPreTouch "
            + os.environ.get("SPARK_GRAFT_JVM_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        # No call-site capture: PySpark's DataFrame debugging wraps every
        # Column and ``functions`` call to walk the Python stack and set
        # the JVM's current origin, about ten gateway round trips a call
        # (F.col makes 13 with it, 3 without).  The frames it records for
        # engine-built plans are the engine's own lines; errors still
        # raise without them.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Build the deployable package zip for ``spark-submit --py-files``.

    The zip contains ``giraffe_etl_spark/**/*.py`` rooted at the package
    name, so both the driver (spark-submit prepends --py-files entries
    to the driver's sys.path) and every executor Python worker can
    ``import giraffe_etl_spark`` from it with no install step — the
    north-rule deployment shape.  Idempotent per destination path.
    """
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = dest or os.path.join(
        tempfile.gettempdir(), f"giraffe_etl_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.building.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, zpath)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (--py-files analog).

    Builds the zip once per session and registers it with addPyFile, so
    pandas UDFs / mapInPandas closures resolve the package on every
    worker regardless of the driver's cwd.  On a real cluster this is
    `spark-submit --py-files engine.zip` (tested end-to-end in
    tests/test_submit.py); doing it programmatically keeps
    single-process usage zero-config.
    """
    if getattr(spark, "_giraffe_shipped", False):
        return
    spark.sparkContext.addPyFile(build_pyfiles_zip())
    spark._giraffe_shipped = True


# Active conf pins in the process (appliers, lake scans): (JVM session,
# key) -> [pinned value, value to restore, holder thread ids].
_PINS: dict[tuple, list] = {}
_PINS_CHANGED = threading.Condition()


def _pin_free(key: tuple, value: str) -> bool:
    pin = _PINS.get(key)
    if pin is None or pin[0] == value:
        return True
    if threading.get_ident() in pin[2]:
        # waiting would wait on ourselves
        raise RuntimeError(f"{key[1]} is already pinned to {pin[0]} here")
    return False


@contextmanager
def _conf_pinned(spark: SparkSession, updates: dict[str, str]):
    """Set session conf keys for the block, then restore (or unset) them.

    Safe to overlap across threads: a key already pinned to the SAME
    value in this session is shared, and its last holder restores the
    value from before the first pin; a DIFFERENT value waits until the
    key is free, so no pinned block ever plans under another block's
    value.  Nesting a different value on one thread raises.

    Session-global: an unpinned query planned concurrently in the same
    session sees the pinned values (see the CdcApplier docstring).
    """
    keys = {(spark._jsparkSession, k): v for k, v in updates.items()}
    me = threading.get_ident()
    with _PINS_CHANGED:
        _PINS_CHANGED.wait_for(
            lambda: all(_pin_free(key, v) for key, v in keys.items())
        )
        for key, v in keys.items():
            if key not in _PINS:
                _PINS[key] = [v, spark.conf.get(key[1], None), []]
                spark.conf.set(key[1], v)
            _PINS[key][2].append(me)
    try:
        yield
    finally:
        with _PINS_CHANGED:
            for key in keys:
                pin = _PINS[key]
                pin[2].remove(me)
                if not pin[2]:
                    del _PINS[key]
                    if pin[1] is None:
                        spark.conf.unset(key[1])
                    else:
                        spark.conf.set(key[1], pin[1])
            _PINS_CHANGED.notify_all()
