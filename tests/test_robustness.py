"""Malformed-input robustness: the parse path must drop garbage, not throw
(the reference's log files carried binary junk, duplicate-spelling keys and
truncated lines — RunLogParser blacklists + regex guards)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from bigdata_homed_spark.functions.maps import kv_string_to_map
from bigdata_homed_spark.reports.video_play_etl import filter_blacklist, parse_lines
from bigdata_homed_spark.streaming.jobs import kafka_stream_options


def test_parse_drops_malformed_lines(spark):
    lines = spark.createDataFrame(
        [
            ("[123]2024-01-05 10:00:00 - [INFO] - Success, DA 7, DeviceId 5, ProgramMethod live, ProgramID 3, PlayS 60",),
            ("no header at all",),
            ("[9]bad-date - [INFO] - Success, DA 7",),
            ("",),
            ("[1]2024-01-05 10:00:00 - [INFO] - BINARYC, DA 1, DeviceId 2",),  # blacklist
            ("[5]2024-01-05 11:00:00 - [INFO] - Finished, DA 7, DeviceId 5, ProgramMethod live, ProgramID 3, PlayS 61",),
        ],
        ["line"],
    )
    parsed = parse_lines(filter_blacklist(lines))
    rows = parsed.collect()
    # event_id is recovered from the [pid] slot of the surviving lines
    assert sorted(r.event_id for r in rows) == [5, 123]
    good = [r for r in rows if r.event_id == 123][0]
    assert good.user_id == 7 and good.device_id == 5 and good.plays == 60
    assert good.sec == 1704448800  # 2024-01-05 10:00:00 UTC


def test_str_to_map_handles_missing_and_dup_keys(spark):
    # session factory sets mapKeyDedupPolicy=LAST_WIN (Spark default throws
    # on duplicate keys — real logs repeat keys, so lenient wins)
    df = spark.createDataFrame(
        [("DA 1, DA 2, DeviceId x",), ("",), ("novalue",)], ["body"]
    )
    kv = kv_string_to_map(F.col("body"), ", *", " ")
    rows = df.select(
        kv.getItem("DA").alias("da"),
        # try_cast: ANSI mode (Spark 4 default) makes plain cast THROW on
        # non-numeric input — untrusted fields must go through try_cast
        kv.getItem("DeviceId").try_cast("bigint").alias("dev"),
    ).collect()
    assert rows[0].da == "2"  # last occurrence wins
    assert all(r.dev is None for r in rows)  # non-numeric → null, no throw


def test_kafka_options_shape():
    opts = kafka_stream_options("b1:9092,b2:9092", "runlog,userlog")
    assert opts["kafka.bootstrap.servers"].count(":") == 2
    assert opts["subscribe"] == "runlog,userlog"


def test_subtree_descendants_matches_naive_closure():
    """Property: the BFS closure equals the naive ancestor-chain check on
    random taxonomies (including self-parented roots and forests)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bigdata_homed_spark.plans.etl_queries import subtree_descendants

    @st.composite
    def taxonomy(draw):
        n = draw(st.integers(min_value=1, max_value=40))
        # parent of node i is any node < i (forest, acyclic) or itself (root)
        parent_of = {}
        for i in range(n):
            parent_of[i] = draw(st.integers(min_value=0, max_value=max(0, i - 1))) if i else 0
        roots = draw(st.lists(st.integers(min_value=0, max_value=n - 1),
                              min_size=1, max_size=4, unique=True))
        return parent_of, roots

    def ancestors(node, parent_of):
        seen = [node]
        while True:
            p = parent_of.get(node)
            if p is None or p == node:
                return seen
            node = p
            seen.append(node)

    @settings(max_examples=200, deadline=None)
    @given(taxonomy())
    def check(tr):
        parent_of, roots = tr
        got = subtree_descendants(parent_of, roots)
        expected = {
            n for n in parent_of if any(a in set(roots) for a in ancestors(n, parent_of))
        }
        assert got == expected, (parent_of, roots)

    check()


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """get_spark puts the package's parent directory on the Python workers'
    path: a UDF that imports the package runs in a fresh process whose
    working directory is outside the checkout and whose PYTHONPATH is
    unset (without the fix the worker raises ModuleNotFoundError)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "udf_import.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {root!r})
            from pyspark.sql import functions as F
            from bigdata_homed_spark.session import get_spark

            spark = get_spark("worker_path", master="local[1]")

            @F.udf("string")
            def package_name(_):
                import bigdata_homed_spark
                return bigdata_homed_spark.__name__

            print(spark.range(1).select(package_name("id")).first()[0])
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "bigdata_homed_spark"


def test_session_fixture_memo_hits_keys_and_rebuilds(spark):
    """One build per (application, sf_dir, tag); a removed temp root makes
    the next lookup rebuild instead of returning a path that is gone."""
    import shutil

    from bigdata_homed_spark.session import session_dir, session_fixture

    builds = []

    def build():
        builds.append(1)
        return session_dir(spark, "memo_test_")

    first = session_fixture(spark, "memo-sf", "memo", build)
    assert session_fixture(spark, "memo-sf", "memo", build) == first
    assert len(builds) == 1
    other_sf = session_fixture(spark, "memo-sf-2", "memo", build)
    other_tag = session_fixture(spark, "memo-sf", "memo-2", build)
    assert len({first, other_sf, other_tag}) == 3 and len(builds) == 3

    root = os.path.dirname(first)
    assert os.path.dirname(other_sf) == root and os.path.isdir(first)
    shutil.rmtree(root)
    rebuilt = session_fixture(spark, "memo-sf", "memo", build)
    assert len(builds) == 4
    assert rebuilt != first and os.path.isdir(rebuilt)


def test_package_temp_dirs_removed_at_exit(tmp_path, sf_dir):
    """Fixture directories (the day-partitioned fact) and per-call ones (a
    stream's table and checkpoint) all live under the application's temp
    root, which is removed when the interpreter exits: the process leaves
    nothing in TMPDIR."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    script = tmp_path / "temp_cleanup.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {root!r})
            from bigdata_homed_spark.plans import QUERIES
            from bigdata_homed_spark.session import get_spark

            spark = get_spark("temp_cleanup", master="local[1]")
            for name in ("partitioned_fact_roundtrip", "stream_mor_upsert"):
                assert QUERIES[name](spark, {sf_dir!r}).count() > 0
            """
        )
    )
    env = dict(os.environ, TMPDIR=str(tmpdir), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert os.listdir(tmpdir) == []


def test_span_counts_jobs_past_status_store_retention(tmp_path):
    """``trace.span`` counts jobs by scheduler id, so the count holds once
    the status store has dropped old jobs.  With ``retainedJobs=10`` and
    20 jobs already run, five one-job actions count five; the status
    tracker's job list, which the count used to be read from, stays at its
    cap and does not grow by five."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "span_retention.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {root!r})
            from bigdata_homed_spark.session import get_spark
            from bigdata_homed_spark.trace import span

            spark = get_spark(
                "span_retention",
                master="local[1]",
                extra_conf={{"spark.ui.retainedJobs": "10"}},
            )
            sc = spark.sparkContext._jsc.sc()

            def tracked():
                sc.listenerBus().waitUntilEmpty()
                return len(sc.statusTracker().getJobIdsForGroup(None))

            for _ in range(20):
                spark.range(1).collect()
            before = tracked()
            with span(spark) as s:
                for _ in range(5):
                    spark.range(1).collect()
            print(s.jobs, tracked() - before)
            spark.stop()
            """
        )
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    jobs, tracker_delta = map(int, out.stdout.split()[-2:])
    assert jobs == 5
    assert tracker_delta != 5


# ---------------------------------------------------------------------------
# The driver's class-data archive (session module docstring): every case
# runs sessions in subprocesses against a private cache, and each must give
# the same query result as a session without an archive, with no error.

ARCHIVE_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from bigdata_homed_spark.session import get_spark

spark = get_spark("archive_probe", master="local[1]")
rows = (
    spark.range(0, 2000, 1, 4).selectExpr("id % 7 as k", "id")
    .groupBy("k").sum("id").orderBy("k").collect()
)
print("OPTS", spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", ""))
print("CONF", spark.sparkContext.getConf().get("spark.archive.probe", "-"))
print("ROWS", [tuple(r) for r in rows], flush=True)
{tail}
"""
ARCHIVE_ROWS = str([(k, sum(range(k, 2000, 7))) for k in range(7)])


def _archive_env(cache, **extra) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    return dict(env, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g", **extra)


def _archive_session(tmp_path, env: dict, tail: str = "") -> subprocess.Popen:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "archive_probe.py"
    script.write_text(textwrap.dedent(ARCHIVE_SCRIPT).format(root=root, tail=tail))
    return subprocess.Popen(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _archive_result(proc: subprocess.Popen) -> dict:
    """The session's printed lines by tag, after checking it exited 0 and
    gave the no-archive result."""
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    lines = dict(ln.split(" ", 1) for ln in out.splitlines() if " " in ln)
    assert lines["ROWS"] == ARCHIVE_ROWS, out
    return lines


def _archive_path(cache, monkeypatch) -> str:
    """The archive path a 1g session gets under ``cache``."""
    from bigdata_homed_spark.session import _driver_archive

    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    found = _driver_archive("1g")
    if found is None:
        pytest.skip("this Spark home's configuration directory rules out an archive")
    return found[0]


def _cache_files(final: str) -> list[str]:
    return sorted(n for n in os.listdir(os.path.dirname(final)) if n != "conf")


def test_driver_archive_replaces_garbage_truncated_and_stale_files(tmp_path, monkeypatch):
    """A garbage file at the key's path and a truncated archive are neither
    mapped nor kept: the session runs without them and dumps a whole
    archive in their place, which the next session maps.  An older key's
    archive is deleted when the new one lands."""
    from bigdata_homed_spark.session import _archive_complete

    final = _archive_path(tmp_path / "cache", monkeypatch)
    stale = os.path.join(os.path.dirname(final), "driver-0123456789abcdef.jsa")
    with open(stale, "wb") as f:
        f.write(b"old key")
    with open(final, "wb") as f:
        f.write(os.urandom(4096))
    env = _archive_env(tmp_path / "cache")
    assert "ArchiveClassesAtExit" in _archive_result(_archive_session(tmp_path, env))["OPTS"]
    assert _cache_files(final) == [os.path.basename(final)]
    assert _archive_complete(final)

    size = os.path.getsize(final)
    os.chmod(final, 0o644)
    os.truncate(final, size // 2)
    assert "ArchiveClassesAtExit" in _archive_result(_archive_session(tmp_path, env))["OPTS"]
    assert _archive_complete(final) and _cache_files(final) == [os.path.basename(final)]

    opts = _archive_result(_archive_session(tmp_path, env))["OPTS"]
    assert f"-XX:SharedArchiveFile={final}" in opts


def test_driver_archive_unwritable_cache_root(tmp_path):
    """A cache root that cannot be made means no archive and no error."""
    blocker = tmp_path / "file"
    blocker.write_text("")
    lines = _archive_result(_archive_session(tmp_path, _archive_env(blocker / "cache")))
    assert "Archive" not in lines["OPTS"]


def test_driver_archive_never_hides_a_real_conf_dir(tmp_path, monkeypatch):
    """A SPARK_CONF_DIR with real configuration is used as it is, left
    untouched, and gets no archive."""
    final = _archive_path(tmp_path / "cache", monkeypatch)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.archive.probe  from-conf\n")
    env = _archive_env(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    lines = _archive_result(_archive_session(tmp_path, env))
    assert lines["CONF"] == "from-conf"
    assert "Archive" not in lines["OPTS"]
    assert os.listdir(conf) == ["spark-defaults.conf"]
    assert (conf / "spark-defaults.conf").read_text() == "spark.archive.probe  from-conf\n"
    assert _cache_files(final) == []


def test_driver_archive_two_first_sessions_land_one(tmp_path, monkeypatch):
    """Two sessions that start on an empty cache at once: one takes the
    lock and dumps, the other runs without; exactly one archive lands and
    no temp or lock file is left."""
    final = _archive_path(tmp_path / "cache", monkeypatch)
    env = _archive_env(tmp_path / "cache")
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    procs = [_archive_session(tmp_path / d, env) for d in ("a", "b")]
    opts = [_archive_result(p)["OPTS"] for p in procs]
    assert sum("ArchiveClassesAtExit" in o for o in opts) == 1, opts
    assert _cache_files(final) == [os.path.basename(final)]


def test_driver_archive_killed_dumper_is_never_promoted(tmp_path, monkeypatch):
    """A dumping session killed with SIGKILL promotes nothing: its JVM may
    still write its temp file, but only the exit hook renames, and the
    next session takes the dead process's lock over, dumps and lands its
    own archive, dropping the dead one's temp file."""
    import signal
    import time

    final = _archive_path(tmp_path / "cache", monkeypatch)
    env = _archive_env(tmp_path / "cache")
    tail = 'print("JVM", spark.sparkContext._gateway.proc.pid, flush=True)\n'
    tail += "import time\ntime.sleep(600)"
    proc = _archive_session(tmp_path, env, tail)
    jvm = None
    for line in proc.stdout:
        if line.startswith("JVM "):
            jvm = int(line.split()[1])
            break
    assert jvm is not None, proc.stderr.read()[-3000:]
    proc.send_signal(signal.SIGKILL)
    proc.communicate()

    def running(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except FileNotFoundError:
            return False

    # the orphaned JVM sees its stdin close, dumps and exits
    deadline = time.monotonic() + 180
    while running(jvm) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not running(jvm)
    assert not os.path.exists(final)
    assert os.path.exists(final + ".lock")

    assert "ArchiveClassesAtExit" in _archive_result(_archive_session(tmp_path, env))["OPTS"]
    assert _cache_files(final) == [os.path.basename(final)]
