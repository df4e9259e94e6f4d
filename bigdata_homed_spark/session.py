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

Class-data archive: the reference runs about 110 independent jobs, each a
fresh ``spark-submit``, so each pays JVM start and class loading before any
query runs.  ``get_spark`` starts the driver JVM from a JDK 17 dynamic
class-data archive of the classes an earlier session loaded
(``-Xshare:auto -XX:SharedArchiveFile``), kept in
``${XDG_CACHE_HOME:-~/.cache}/bigdata_homed_spark/`` under a key that
hashes the JDK image, the Spark jars and whether the heap turns compressed
oops off.  With none there, the first session to take the key's lock starts
with ``-XX:ArchiveClassesAtExit`` into a temp file, and its exit hook renames
that file into place only once the JVM has exited 0 with a whole archive;
the new key's archive replaces older keys' ones.  ``-Xshare:auto`` falls
back silently on a stale or mismatched archive, but the JVM dies of SIGBUS
on a truncated one, so a file is only handed over once its header's regions
all fit in it.  The JVM will not dump or map an archive while a non-empty
directory is on its class path, so a session uses one only when the Spark
configuration directory holds nothing but templates, and points
``SPARK_CONF_DIR`` at an empty directory in the cache instead.

Measured with ``perfbench/run.py --seconds 30 --trace 0`` (4 cores,
``local[2]``, 4g heap), 10 alternating pairs per workload against the
build without an archive, each change series starting on an empty cache:
``setup_s`` fell from a median 10.16 s to 5.32 s on homed_daily and from
10.15 s to 5.48 s on curation_graph, lower in 9/10 pairs on each; the tenth
is the run that dumped.  ``cpu_s`` and ``cold_cpu_s`` did not rise.  A
dumping run pays once: ``setup_s`` 15.8-16.2 s, and the dump of a 177 MB
archive at exit, which ended inside perfbench's 60 s JVM wait (whole runs
of 64-70 s).

Scale note: `shuffle_partitions` defaults to an env-derived value sized for
the local[32] test harness.  On a real 1000-executor cluster you'd leave AQE
to coalesce from a high initial number (e.g. 2000+) instead; the value is a
parameter, not a constant, for exactly that reason.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import struct
import subprocess
import sys
import tempfile
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
    if SparkContext._gateway is None:
        spark = _launch(builder)
    else:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _launch(builder: SparkSession.Builder) -> SparkSession:
    """Start the driver JVM, from its class-data archive when there is one
    (see the module docstring); the first session to find none dumps it."""
    archive = _driver_archive(builder._options.get("spark.driver.memory", "1g"))
    if archive is None:
        return builder.getOrCreate()
    final, conf_dir = archive
    lock = final + ".lock"
    tmp = f"{final}.{os.getpid()}.tmp"
    dump = not _archive_complete(final)
    if not dump:
        flags = f"-Xshare:auto -XX:SharedArchiveFile={final}"
    elif _take_lock(lock):
        flags = f"-XX:ArchiveClassesAtExit={tmp}"
    else:
        return builder.getOrCreate()
    # the dump's warnings (classes it skips) would go to stdout
    flags += " -Xlog:cds*=error"
    extra = builder._options.get("spark.driver.extraJavaOptions", "")
    builder = builder.config("spark.driver.extraJavaOptions", f"{extra} {flags}".strip())
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if dump:
        atexit.register(_land_archive, SparkContext._gateway.proc, tmp, final, lock)
    return spark


def _driver_archive(driver_memory: str) -> tuple[str, str] | None:
    """The archive path for this JVM and class path, and the empty
    configuration directory to start the JVM with; None when no archive can
    be used.

    The JVM neither dumps nor maps an archive while a non-empty directory is
    on its class path, and the configuration directory is.  So an archive is
    used only when ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf``
    holds nothing but templates, which an empty directory stands in for; a
    real configuration is never hidden.  An unwritable cache, or a JDK other
    than 17, means no archive.
    """
    if os.environ.get("SPARK_CONF_DIR") or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return None
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java"))
    )
    try:
        # only JDK 17's archive header is known (see _archive_complete)
        with open(os.path.join(java_home, "release")) as f:
            if 'JAVA_VERSION="17.' not in f.read():
                return None
        spark_home = _find_spark_home()
        conf = os.path.join(spark_home, "conf")
        if os.path.isdir(conf) and any(
            not name.endswith(".template") for name in os.listdir(conf)
        ):
            return None
        root = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "bigdata_homed_spark",
        )
        empty_conf = os.path.join(root, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(root, os.W_OK):
            return None
        key = _archive_key(java_home, spark_home, driver_memory)
    except (OSError, SystemExit):  # _find_spark_home exits when it finds none
        return None
    return os.path.join(root, f"driver-{key}.jsa"), empty_conf


def _heap_mb(size: str) -> int:
    """A JVM memory size such as ``4g`` or ``7680m`` (bare: MiB) in MiB."""
    size = size.strip().lower().rstrip("b")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2}
    if size[-1:] in scale:
        return int(float(size[:-1]) * scale[size[-1]])
    return int(size)


def _archive_key(java_home: str, spark_home: str, driver_memory: str) -> str:
    """A hash of everything that makes a driver archive unusable: the JDK
    image, the jars on the class path and whether the heap turns compressed
    oops off (at 32g and above), which swaps the JDK's base archive."""
    modules = os.path.join(java_home, "lib", "modules")
    st = os.stat(modules)
    parts = [f"{modules} {st.st_size} {st.st_mtime_ns}"]
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        parts.append(f"{name} {st.st_size} {st.st_mtime_ns}")
    parts.append(f"coops={_heap_mb(driver_memory) < 32 * 1024}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


# JDK 17's dynamic archive header (hotspot filemap.hpp, CDS version 11): the
# magic, a crc and the version, then from byte 16 seven regions of 72 bytes,
# each with its file offset, mapping offset and used bytes at +24
_DYNAMIC_MAGIC, _CDS_VERSION, _N_REGIONS, _REGION_BYTES = 0xF00BABA8, 11, 7, 72


def _archive_complete(path: str) -> bool:
    """True if ``path`` is a JDK 17 dynamic archive that holds every region
    its header names.  ``-Xshare:auto`` falls back on a bad header, but the
    JVM maps the regions and dies of SIGBUS on a file that ends inside one,
    so a truncated archive is never handed to it."""
    try:
        with open(path, "rb") as f:
            head = f.read(16 + _N_REGIONS * _REGION_BYTES)
            size = os.fstat(f.fileno()).st_size
    except OSError:
        return False
    if len(head) < 16 + _N_REGIONS * _REGION_BYTES:
        return False
    magic, _, version = struct.unpack_from("<IiI", head)
    if (magic, version) != (_DYNAMIC_MAGIC, _CDS_VERSION):
        return False
    end = 0
    for i in range(_N_REGIONS):
        offset, _, used = struct.unpack_from("<QQQ", head, 16 + i * _REGION_BYTES + 24)
        end = max(end, offset + used if used else 0)
    return 0 < end <= size


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _take_lock(lock: str) -> bool:
    """Create ``lock`` naming this process, taking it over from a dead pid.

    Two processes that take over the same dead lock at once may both dump;
    each lands its own complete archive by rename, so that costs a dump,
    never a broken file.
    """
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(lock) as f:
                    holder = int(f.read() or 0)
            except (OSError, ValueError):
                holder = 0
            # a holder still writing its pid reads as 0: treat it as live
            if holder == 0 or _pid_alive(holder):
                return False
            with contextlib.suppress(FileNotFoundError):
                os.unlink(lock)
            continue
        except OSError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _land_archive(
    proc: subprocess.Popen, tmp: str, final: str, lock: str, wait_s: float = 120
) -> None:
    """At exit: stop the session and let the dumping JVM exit, then promote
    its archive only if the JVM exited 0 and the file is complete, so the
    final name only ever holds a whole archive.  Other keys' archives and
    dead dumpers' temp files go with it; a JVM still running after
    ``wait_s`` is killed and its file dropped."""
    try:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
        proc.stdin.close()
        proc.wait(timeout=wait_s)
        if proc.returncode == 0 and _archive_complete(tmp):
            os.rename(tmp, final)
            _drop_stale(final)
    except (OSError, subprocess.TimeoutExpired) as e:
        print(f"driver class-data archive not landed: {e!r}", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        for path in (tmp, lock):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)


_TMP_NAME = re.compile(r"driver-[0-9a-f]{16}\.jsa\.(\d+)\.tmp")


def _drop_stale(final: str) -> None:
    """Delete other keys' archives and dead dumpers' temp files."""
    root = os.path.dirname(final)
    for name in os.listdir(root):
        tmp = _TMP_NAME.fullmatch(name)
        old = name.startswith("driver-") and name.endswith(".jsa")
        if name != os.path.basename(final) and (
            old or (tmp is not None and not _pid_alive(int(tmp[1])))
        ):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(os.path.join(root, name))


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
