"""SparkSession factory.

Replaces the reference's session factory (`cn.ipanel.common.SparkSession`,
reference `src/main/scala/cn/ipanel/common/SparkSession.scala:19-34`), which
hand-enabled codegen/columnar-compression/Kryo and a 200 MB broadcast
threshold on Spark 1.6.  On Spark 4.x, whole-stage codegen and columnar
caching are defaults; we add AQE (runtime coalesce + skew-join handling),
Arrow for the Python boundary, and a UTC session timezone so results are
comparable with UTC-naive oracles (DuckDB).

Generated-code cache: every distinct operator pipeline Spark compiles
(whole-stage codegen, projections, predicates) becomes a Janino class, kept
in a static, JVM-wide LRU cache of ``spark.sql.codegen.cache.maxEntries``
classes (Spark's default is 100).  One pass of either benchmark workload
(``perfbench/``: the nightly report chain; the graph and similarity loops)
compiles about 240 classes at sf0.01 (4 cores, local[2]), so a 100-class
cache is thrashed: homed_daily's passes compiled 248 classes cold, then 239
and 236 warm.  At 1,000 entries a session compiles each class once and
reuses it for every later run of the same plan: warm report calls, graph
rounds, streaming triggers.  A session that ran 120 registry queries held
no more JVM memory after GC (1.52 GB at 1,000 entries, 1.60 GB at 100).

Class names leave out the whole-stage codegen stage id.  AQE numbers the
stages in the order sibling query stages finish, so the same pipeline can
get another id on the next run; with the id in the name it came back as a
new class (4-8 classes on some warm runs of ``channel_report_full`` and
``live_channel_halfhour_full``).  With both settings homed_daily's warm
passes compile no class.

Scale note: `shuffle_partitions` defaults to an env-derived value sized for
the local[32] test harness.  On a real 1000-executor cluster you'd leave AQE
to coalesce from a high initial number (e.g. 2000+) instead; the value is a
parameter, not a constant, for exactly that reason.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding this package: Python workers import the package
# from it, whatever the working directory and PYTHONPATH
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the session-fixture memo: one temp root per application, removed at
# interpreter exit, and the values built under it, keyed on
# (applicationId, sf_dir, tag)
_roots: dict[str, str] = {}
_fixtures: dict[tuple[str, str, str], object] = {}


def _default_driver_memory() -> str:
    """48g, or half of physical memory on a smaller machine: the driver JVM
    is the whole local cluster, and a heap sized past the machine gets the
    process killed by the kernel before the garbage collector runs."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(48 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "bigdata_homed_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    The reference forced `spark.sql.autoBroadcastJoinThreshold=209715200`
    (200 MB, SparkSession.scala:21) to make every dim join a broadcast.  We
    keep a smaller 64 MB threshold — big enough for every dimension table in
    the model, small enough not to OOM executors at scale — and rely on
    explicit ``F.broadcast`` hints where the optimizer lacks statistics.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # raw logs repeat k-v keys (e.g. DeviceID/DeviceId spelling drift,
        # reference RunLogParser.scala:514); keep the lenient last-wins
        # semantics instead of failing the batch
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # streaming keyed state on RocksDB, not the default HDFS-backed
        # in-heap map: state size is bounded by local disk instead of
        # executor heap (the 100 TB requirement for T3/T4 jobs — the
        # reference externalized state to Phoenix for the same reason),
        # with changelog checkpointing so per-batch checkpoint cost is
        # O(delta), not O(total state)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.ui.enabled", "false")
        # static: holds about 4x the ~250 classes one pass of a benchmark
        # workload compiles (see the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # class names without the codegen stage id, which AQE hands out in
        # the order query stages finish (see the module docstring)
        .config("spark.sql.codegen.useIdInClassName", "false")
        # merged with the launching environment's PYTHONPATH by the worker
        # factory, so a worker can unpickle functions defined in the package
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _app_root(app: str) -> str:
    """The application's temp root, made on first use and again if removed.

    A removed root drops every fixture the application memoized, so the
    next lookup rebuilds instead of handing back a path that is gone.
    """
    root = _roots.get(app)
    if root is not None and os.path.isdir(root):
        return root
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(), f"bigdata_homed_spark-{os.getpid()}-{app}"
        )
        _roots[app] = root
        atexit.register(shutil.rmtree, root, True)
    for key in [k for k in _fixtures if k[0] == app]:
        del _fixtures[key]
    os.makedirs(root, exist_ok=True)
    return root


def session_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory under the application's temp root."""
    return tempfile.mkdtemp(
        prefix=prefix, dir=_app_root(spark.sparkContext.applicationId)
    )


def session_fixture(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], T]
) -> T:
    """Build a derived dataset once per (application, sf_dir, tag).

    The reference writes each derived table once and lets many jobs read
    it; this memo is that pattern for one driver session.  It keys on
    ``applicationId`` rather than ``id(spark)``, which CPython can reuse
    after an old session object is collected.  ``build`` takes no
    arguments; a fixture that writes files puts them under
    :func:`session_dir`, so they go when the root goes.
    """
    app = spark.sparkContext.applicationId
    _app_root(app)
    key = (app, sf_dir, tag)
    if key not in _fixtures:
        _fixtures[key] = build()
    return _fixtures[key]
