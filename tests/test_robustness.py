"""Malformed-input robustness: the parse path must drop garbage, not throw
(the reference's log files carried binary junk, duplicate-spelling keys and
truncated lines — RunLogParser blacklists + regex guards)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

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
