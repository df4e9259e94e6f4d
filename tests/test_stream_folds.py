"""Property tests: the four mergeable stream folds against dict models.

``stream_ivm_aggregates``, ``stream_incremental_dedup``,
``stream_kmv_sketch_merge`` and ``stream_hdr_sketch_merge`` each land a
micro-batch's partial as one ``commit_append(batch_id=)`` and fold the
partials when they read.  Each example draws a few rows, splits them into
batches, shuffles the batches' arrival order and replays some batch ids
already committed; where the fold's partials are a frame, it also compacts
them at random points with ``commit_rewrite(fold(read()))``.  It drives one
fold's production per-batch commit through a ``SnapshotTable`` and compares
the folded readout with a plain-Python model of all the rows.  A replay
must commit no version, also after a compaction.
"""

from __future__ import annotations

import hashlib
import math
import tempfile
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bigdata_homed_spark.plans import streaming_queries as sq
from bigdata_homed_spark.plans.analysis_queries import HDR_P_BITS
from bigdata_homed_spark.sources.snapshots import SnapshotTable

# few, tiny examples: every real commit schedules Spark jobs
FOLD_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    database=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def schedules(draw, rows, compact=False):
    """``(batches, steps)``: 1 to 8 rows cut into 1 to 3 non-empty batches
    in a random arrival order (a batch's id is its arrival index), and the
    batch ids to commit in turn: each id once as it arrives, each arrival
    followed by up to one replay of an id already committed and, with
    ``compact``, maybe a compaction (``None``)."""
    data = draw(rows)
    n = draw(st.integers(1, min(3, len(data))))
    cuts = sorted(
        draw(st.sets(st.integers(1, len(data) - 1), min_size=n - 1, max_size=n - 1))
    ) if n > 1 else []
    bounds = zip([0, *cuts], [*cuts, len(data)])
    batches = draw(st.permutations([data[a:b] for a, b in bounds]))
    steps = []
    for i in range(len(batches)):
        steps.append(i)
        steps += draw(st.lists(st.integers(0, i), max_size=1))
        if compact and draw(st.booleans()):
            steps.append(None)
    return batches, steps


def drive(spark, root, schema, commit, schedule, fold=None) -> SnapshotTable:
    """Commit the schedule's batches through ``commit(t, batch_df,
    batch_id)`` into a fresh table under ``root``; a ``None`` step rewrites
    the table as ``fold`` of its rows."""
    batches, steps = schedule
    t = SnapshotTable(tempfile.mkdtemp(dir=root))
    for b in steps:
        if b is None:
            t.commit_rewrite(fold(t.read(spark)))
        else:
            commit(t, spark.createDataFrame(batches[b], schema), b)
    assert len(t.versions()) == len(batches) + steps.count(None), steps
    return t


def rows_of(schedule) -> list:
    return [r for batch in schedule[0] for r in batch]


IVM_ROWS = st.lists(
    st.tuples(
        st.integers(0, 10**6),
        st.sampled_from(["a", "b"]),
        st.integers(-999, 999).map(lambda c: c / 100),
        st.sampled_from([1, -1]),
    ),
    min_size=1,
    max_size=8,
)


@FOLD_SETTINGS
@given(schedule=schedules(IVM_ROWS, compact=True))
# a replay after a compaction, and a group retracted to zero
@example(schedule=([[(0, "a", 0.1, 1)], [(1, "a", 0.1, -1)]], [0, None, 0, 1, 1]))
def test_ivm_fold_matches_dict_model(spark, tmp_path, schedule):
    t = drive(
        spark, tmp_path, "seq bigint, event_type string, value double, sign int",
        sq.ivm_commit_batch, schedule, sq.ivm_fold,
    )
    model = defaultdict(lambda: [0, Decimal(0)])
    for _, typ, value, sign in rows_of(schedule):
        model[typ][0] += sign
        model[typ][1] += sign * Decimal(repr(value)).quantize(
            Decimal("0.000001"), ROUND_HALF_UP
        )
    got = {r["event_type"]: [r["n_live"], r["s_live"]] for r in sq.ivm_fold(t.read(spark)).collect()}
    assert got == {k: list(v) for k, v in model.items()}
    view = {r["event_type"] for r in sq.ivm_view(spark, t).collect()}
    assert view == {k for k, (n, _) in model.items() if n != 0}


DEDUP_ROWS = st.lists(
    st.tuples(
        st.integers(0, 50),
        st.sampled_from(["alpha", "beta", "gamma"]),
        st.sampled_from(["s1", "s2"]),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda r: r[0],
)


@FOLD_SETTINGS
@given(schedule=schedules(DEDUP_ROWS, compact=True))
# a replay after a compaction, and a later batch with a smaller keeper
@example(schedule=([[(5, "alpha", "s1")], [(2, "alpha", "s2")]], [0, None, 0, 1, 1]))
def test_dedup_fold_matches_dict_model(spark, tmp_path, schedule):
    t = drive(
        spark, tmp_path, "doc_id bigint, text string, source string",
        sq.dedup_commit_batch, schedule, sq.dedup_fold,
    )
    model = {}
    for doc_id, text, source in sorted(rows_of(schedule)):
        h = hashlib.md5(text.encode()).hexdigest()
        keeper_id, keeper_source, n = model.get(h, (doc_id, source, 0))
        model[h] = (keeper_id, keeper_source, n + 1)
    got = {
        r["text_hash"]: (r["keeper_id"], r["keeper_source"], r["n_copies"])
        for r in sq.dedup_fold(t.read(spark)).collect()
    }
    assert got == model


KMV_ROWS = st.lists(
    st.tuples(
        st.integers(0, 10**6),
        st.integers(0, 30),
        st.sampled_from(["click", "purchase"]),
        st.sampled_from([100.0, 160.0]),
    ),
    min_size=1,
    max_size=8,
)


@FOLD_SETTINGS
@given(schedule=schedules(KMV_ROWS))
def test_kmv_fold_matches_dict_model(spark, tmp_path, monkeypatch, schedule):
    # a 2-value sketch, so the per-batch cut and the readout cut both bite
    monkeypatch.setattr(sq, "KMV_K", 2)
    t = drive(
        spark, tmp_path, "event_id bigint, user_id bigint, event_type string, value double",
        sq.kmv_commit_batch, schedule,
    )
    hashes = {"a": set(), "b": set()}
    for _, user_id, event_type, value in rows_of(schedule):
        h = int(hashlib.md5(f"kmv{user_id}".encode()).hexdigest()[:10], 16)
        if event_type == "click" and value > 150:  # SEG_A_SQL
            hashes["a"].add(h)
        if event_type == "purchase" and value > 120:  # SEG_B_SQL
            hashes["b"].add(h)
    assert sq.kmv_sketches(spark, t) == {s: sorted(hs)[:2] for s, hs in hashes.items()}


# below 0.01, exact buckets, and pairs that share a coarse bucket (v = 64
# and 65; 777 and 780), so batches often add to the same bucket
HDR_ROWS = st.lists(
    st.tuples(
        st.integers(0, 10**6),
        st.sampled_from([0.0, 0.29, 0.5, 0.64, 0.65, 7.77, 7.8, 29.99]),
    ),
    min_size=1,
    max_size=8,
)


def hdr_lower(v: int) -> int:
    """The lower bound of v's HDR bucket: exact below 2^(p+1), else the
    top p+1 bits of v."""
    drop = max(v.bit_length() - (HDR_P_BITS + 1), 0)
    return v >> drop << drop


@FOLD_SETTINGS
@given(schedule=schedules(HDR_ROWS))
@example(schedule=([[(0, 0.5), (1, 0.64)], [(2, 0.5), (3, 0.65)]], [0, 1, 0]))
def test_hdr_fold_matches_dict_model(spark, tmp_path, schedule):
    t = drive(
        spark, tmp_path, "event_id bigint, value double", sq.hdr_commit_batch, schedule
    )
    fp = [math.floor(value * 100) for _, value in rows_of(schedule)]
    model = Counter(hdr_lower(v) for v in fp if v >= 1)
    assert dict(sq.hdr_buckets(spark, t)) == model
