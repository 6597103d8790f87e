"""Incremental (epoch-by-epoch) derivation == batch derivation, golden
parity, and restart/replay idempotence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crgp_spark.derive import derive_edge_turns
from crgp_spark.generator import synthetic_transcripts
from crgp_spark.golden import GOLDEN_EDGE_TURNS, golden_friendships, golden_transcripts
from crgp_spark.streaming.incremental import IncrementalDeriver, stream_derive


def _edge_set(df):
    return {
        (r["conv_id"], r["src_turn"], r["dst_turn"], r["ts"])
        for r in df.collect()
    }


def test_incremental_matches_batch_on_golden(spark, tmp_path):
    """Golden fixture fed as two turn-ordered epochs -> the reference's
    7 golden edges (algorithm_execution.rs:58-66), same as batch."""
    t = golden_transcripts(spark)
    d = IncrementalDeriver(
        spark, str(tmp_path / "state"), friendships=golden_friendships(spark)
    )
    d.process_batch(t.filter(F.col("turn_idx") <= 1), 0)
    d.process_batch(t.filter(F.col("turn_idx") > 1), 1)
    got = {
        (c, s, dt, ts // 1_000_000)
        for (c, s, dt, ts) in _edge_set(d.edges())
    }
    assert got == {
        (c, s, dt, ts) for (c, s, dt, ts) in GOLDEN_EDGE_TURNS
    }


def _three_epochs(d, t, cut1=4, cut2=10):
    d.process_batch(t.filter(F.col("turn_idx") < cut1), 0)
    d.process_batch(
        t.filter((F.col("turn_idx") >= cut1) & (F.col("turn_idx") < cut2)), 1
    )
    d.process_batch(t.filter(F.col("turn_idx") >= cut2), 2)


def test_incremental_matches_batch_on_synthetic(spark, tmp_path):
    """Three epochs == batch, unrestricted and under a friendships
    restriction (a hash-sampled half of the batch's (user, friend)
    pairs)."""
    t = synthetic_transcripts(spark, n_convs=30, seed=7, max_turns=32).persist()
    d = IncrementalDeriver(spark, str(tmp_path / "state"))
    _three_epochs(d, t)
    want = derive_edge_turns(t)
    assert _edge_set(d.edges()) == _edge_set(want)

    friendships = (
        want.select(
            F.col("dst_participant").alias("user"),
            F.col("src_participant").alias("friend"),
        )
        .distinct()
        .filter(F.xxhash64("user", "friend") % 2 == 0)
    )
    d = IncrementalDeriver(
        spark, str(tmp_path / "state_f"), friendships=friendships
    )
    _three_epochs(d, t)
    want_f = _edge_set(derive_edge_turns(t, friendships))
    assert _edge_set(d.edges()) == want_f
    assert 0 < len(want_f) < len(_edge_set(want))
    t.unpersist()


def test_superseded_state_is_deleted(spark, tmp_path):
    """Each commit deletes the state it supersedes: after three epochs
    only the last activation table remains, and the edges still equal
    the batch derivation."""
    t = synthetic_transcripts(spark, n_convs=20, seed=3, max_turns=24).persist()
    state = tmp_path / "state"
    d = IncrementalDeriver(spark, str(state))
    _three_epochs(d, t)
    assert os.listdir(state / "state") == ["acts_2"]
    assert _edge_set(d.edges()) == _edge_set(derive_edge_turns(t))
    t.unpersist()


def test_resume_from_two_table_manifest(spark, tmp_path):
    """A state_dir committed by the older layout (a manifest that also
    names an originator table) resumes: the extra key is ignored, the
    stale table is deleted at the next commit, and the result equals
    the batch derivation."""
    import json

    from crgp_spark.derive import originators, prepare_turns

    t = synthetic_transcripts(spark, n_convs=20, seed=9, max_turns=24).persist()
    state = tmp_path / "state"
    d = IncrementalDeriver(spark, str(state))
    first = t.filter(F.col("turn_idx") < 4)
    d.process_batch(first, 0)
    origs = str(state / "state" / "origs_0")
    originators(prepare_turns(first)).write.parquet(origs)
    manifest = json.loads((state / "MANIFEST.json").read_text())
    manifest["origs"] = origs
    (state / "MANIFEST.json").write_text(json.dumps(manifest))

    d = IncrementalDeriver(spark, str(state))
    d.process_batch(t.filter(F.col("turn_idx") >= 4), 1)
    assert os.listdir(state / "state") == ["acts_1"]
    assert _edge_set(d.edges()) == _edge_set(derive_edge_turns(t))
    t.unpersist()


def test_edges_before_first_commit_is_empty(spark, tmp_path):
    d = IncrementalDeriver(spark, str(tmp_path / "state"))
    e = d.edges()
    assert e.count() == 0
    assert e.columns == derive_edge_turns(
        golden_transcripts(spark)
    ).columns + ["epoch"]
    assert e.schema["epoch"].dataType.simpleString() == "int"


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """Re-delivery of a committed epoch after restart must not duplicate
    edges (the manifest is the epoch barrier)."""
    t = golden_transcripts(spark)
    d = IncrementalDeriver(
        spark, str(tmp_path / "state"), friendships=golden_friendships(spark)
    )
    d.process_batch(t.filter(F.col("turn_idx") <= 1), 0)
    n1 = d.edges().count()
    d.process_batch(t.filter(F.col("turn_idx") <= 1), 0)  # replay
    assert d.edges().count() == n1
    d.process_batch(t.filter(F.col("turn_idx") > 1), 1)
    assert len(_edge_set(d.edges())) == 7


def test_crash_before_manifest_commit_is_idempotent(spark, tmp_path):
    """A crash AFTER the epoch's edge write but BEFORE the manifest
    commit must neither expose the orphaned edges nor duplicate them
    when the epoch is replayed (ADVICE r1: the old append-mode sink
    re-appended here)."""
    t = golden_transcripts(spark)
    d = IncrementalDeriver(
        spark, str(tmp_path / "state"), friendships=golden_friendships(spark)
    )
    d.process_batch(t.filter(F.col("turn_idx") <= 1), 0)
    n_committed = d.edges().count()

    # epoch 1 "crashes" right before its manifest rename
    real_commit = d._commit_manifest
    d._commit_manifest = lambda m: None
    d.process_batch(t.filter(F.col("turn_idx") > 1), 1)
    d._commit_manifest = real_commit

    # orphaned epoch-1 edges are invisible until the epoch commits
    assert d.edges().count() == n_committed

    # replay of epoch 1 overwrites the orphan and commits exactly once
    d.process_batch(t.filter(F.col("turn_idx") > 1), 1)
    got = {
        (c, s, dt, ts // 1_000_000) for (c, s, dt, ts) in _edge_set(d.edges())
    }
    assert got == {(c, s, dt, ts) for (c, s, dt, ts) in GOLDEN_EDGE_TURNS}


@pytest.mark.parametrize(
    "knobs",
    [
        {},  # default: one file per epoch
        {"max_bytes_per_trigger": 1},  # byte-capped epochs (>=1 file each)
        {"max_files_per_trigger": None},  # uncapped: everything in one epoch
    ],
    ids=["per_file", "byte_capped", "single_epoch"],
)
def test_stream_derive_available_now(spark, tmp_path, knobs):
    """Real Structured Streaming run (parquet source, foreachBatch sink,
    availableNow trigger) over per-epoch files; the epoch-granularity
    knobs (the reference's batch_size analog) must not change the
    result."""
    t = golden_transcripts(spark)
    inp = str(tmp_path / "in")
    os.makedirs(inp, exist_ok=True)
    # one file per epoch, in stable turn order; distinct mtimes so the
    # file source (which orders pending files by modification time)
    # delivers the epochs in order
    import time

    t.filter(F.col("turn_idx") <= 1).coalesce(1).write.mode("append").parquet(inp)
    time.sleep(1.1)
    t.filter(F.col("turn_idx") > 1).coalesce(1).write.mode("append").parquet(inp)

    state = str(tmp_path / "state")
    stream_derive(
        spark, inp, state, friendships=golden_friendships(spark), **knobs
    )
    d = IncrementalDeriver(spark, state)
    got = {
        (c, s, dt, ts // 1_000_000) for (c, s, dt, ts) in _edge_set(d.edges())
    }
    assert got == {(c, s, dt, ts) for (c, s, dt, ts) in GOLDEN_EDGE_TURNS}


@pytest.mark.parametrize("files_per_trigger", [1, None])
def test_stream_window_matches_batch(spark, tmp_path, files_per_trigger):
    """Tumbling-window streamed totals == batch GROUP BY, independent of
    micro-batch granularity (integer-cents accumulation)."""
    from crgp_spark.streaming.windows import stream_window_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "ev")
    ev.repartition(4, "event_id").write.parquet(inp)

    got = stream_window_counts(
        spark, inp, window="1 hour", max_files_per_trigger=files_per_trigger
    )
    from crgp_spark.functions import ts_micros

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    want = (
        ev.groupBy(
            (
                F.floor(ts_micros("ts") / F.lit(3_600_000_000)) * 3600
            ).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("total_cents"),
        )
    )
    key = lambda df: {tuple(r) for r in df.collect()}
    assert key(got) == key(want) and got.count() > 100


def test_stream_exact_dedup_matches_batch(spark, tmp_path):
    """Streamed per-digest min/count == batch exact_dedup regardless of
    micro-batch granularity."""
    from crgp_spark.operators.dedup import exact_dedup
    from crgp_spark.streaming.windows import stream_exact_dedup

    docs = spark.createDataFrame(
        [(i, "text %d" % (i % 7)) for i in range(40)],
        "doc_id long, text string",
    )
    inp = str(tmp_path / "docs")
    docs.repartition(5, "doc_id").write.parquet(inp)
    got = {tuple(r) for r in stream_exact_dedup(spark, inp, 1).collect()}
    want = {tuple(r) for r in exact_dedup(docs).collect()}
    assert got == want and len(got) == 7


@pytest.mark.parametrize("files_per_trigger", [1, 4])
def test_stream_sessions_matches_batch(spark, tmp_path, files_per_trigger):
    """session_window state-store sessionization == the batch lag/gap
    construction (split only on > gap), independent of micro-batch
    slicing; includes an exact-30-min gap (merges) and a 30-min+1us gap
    (splits)."""
    from datetime import datetime, timedelta

    from crgp_spark.streaming.windows import stream_sessions

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: 2 events 10 min apart, a third at an EXACT 30-min gap
        # (still merges), then a 30-min+1us gap -> new session
        (1, t0, 1, "a", 1.0, None),
        (2, t0 + timedelta(minutes=10), 1, "a", 2.0, None),
        (3, t0 + timedelta(minutes=40), 1, "a", 3.0, None),
        (4, t0 + timedelta(minutes=70, microseconds=1), 1, "a", 4.0, None),
        # user 2: single event
        (5, t0, 2, "b", 0.515, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    in_dir = os.path.join(str(tmp_path), "ev")
    ev.repartition(4, "event_id").write.parquet(in_dir)
    got = {
        (r["user_id"], r["session_start_us"]): (
            r["session_end_us"], r["n_events"], r["total_cents"]
        )
        for r in stream_sessions(
            spark, in_dir, max_files_per_trigger=files_per_trigger
        ).collect()
    }
    gap_us = 30 * 60 * 1_000_000
    us0 = int(t0.timestamp()) * 1_000_000  # container TZ is UTC
    e3 = us0 + 40 * 60 * 1_000_000
    e4 = us0 + 70 * 60 * 1_000_000 + 1
    assert got == {
        (1, us0): (e3 + gap_us, 3, 600),
        (1, e4): (e4 + gap_us, 1, 400),
        (2, us0): (us0 + gap_us, 1, 52),  # 0.515 -> 52 cents (round half up)
    }


def test_stream_interval_join_equals_batch(spark, tmp_path):
    """The stream-stream interval join must emit exactly the batch
    interval join's pairs, independent of file/epoch boundaries."""
    import shutil

    from pyspark.sql import functions as F

    from crgp_spark.streaming.windows import stream_interval_join

    src = "/root/testdata/sf0.001/events.parquet"
    work = str(tmp_path / "ivjoin_in")
    # many small files -> many micro-batches; both join sides straddle
    # epoch boundaries
    spark.read.parquet(src).repartition(16).write.parquet(work)
    out = stream_interval_join(
        spark, work, within_hours=24, max_files_per_trigger=3
    )
    ev = spark.read.parquet(work)
    a = ev.filter("event_type = 'view'").selectExpr(
        "user_id u", "event_id li", "ts lt")
    b = ev.filter("event_type = 'click'").selectExpr(
        "user_id ru", "event_id ri", "ts rt")
    batch = a.join(
        b, F.expr("u = ru AND rt >= lt AND rt <= lt + INTERVAL 24 HOURS")
    ).selectExpr(
        "u", "li", "ri",
        "CAST(floor((unix_micros(CAST(rt AS timestamp)) - "
        "unix_micros(CAST(lt AS timestamp))) / 1000000) AS long)",
    )
    got = sorted(map(tuple, out.select(
        "user_id", "left_id", "right_id", "lag_s").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("files_per_trigger", [1, 5])
def test_stream_dim_join_matches_batch(spark, tmp_path, files_per_trigger):
    """Stream-static dimension join: drained stream == batch join
    bit-for-bit regardless of micro-batch slicing; the plan must
    broadcast the dimension (no shuffle of the unbounded side)."""
    from pyspark.sql import functions as F

    from crgp_spark.streaming.windows import stream_dim_join

    src = "/root/testdata/sf0.001/events.parquet"
    work = str(tmp_path / "dim_in")
    spark.read.parquet(src).repartition(12).write.parquet(work)
    dim = spark.createDataFrame(
        [(k, f"seg{k % 4}") for k in range(1, 400)], "k long, seg string"
    )
    out = stream_dim_join(
        spark, work, dim,
        key_expr="user_id + 1", dim_key="k", attr_col="seg",
        max_files_per_trigger=files_per_trigger,
    )
    ev = spark.read.parquet(work)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    batch = (
        ev.join(dim, ev.user_id + 1 == dim.k)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(cents).alias("total_cents"))
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("files_per_trigger", [1, None])
def test_stream_heavy_hitters_matches_batch(spark, tmp_path, files_per_trigger):
    """Streaming count-min heavy hitters: the grid drained from the
    streaming state store is a commutative monoid, so the streamed
    top-k (exact, est, over_ok) equals the batch heavy_hitters
    bit-for-bit at any micro-batch slicing."""
    from crgp_spark.operators.cms import heavy_hitters
    from crgp_spark.streaming.windows import stream_heavy_hitters

    src = "/root/testdata/sf0.001/events.parquet"
    work = str(tmp_path / "hh_in")
    spark.read.parquet(src).repartition(12).write.parquet(work)
    out = stream_heavy_hitters(
        spark, work, "user_id", k=10, depth=4, width=32,
        max_files_per_trigger=files_per_trigger,
    )
    want_df = heavy_hitters(
        spark.read.parquet(work), "user_id", k=10, depth=4, width=32
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, want_df.collect()))
    assert got == want and len(got) == 10
    assert all(r[3] for r in got)  # over_ok: est >= exact everywhere


@pytest.mark.parametrize("files_per_trigger", [1, 3, None])
def test_stream_temporal_reach_matches_batch(spark, tmp_path, files_per_trigger):
    """Streaming earliest arrival: the epoch-wise warm-started fixpoint
    over retained edges + per-channel carry equals the batch operator
    under any slicing of the time-ordered log — including the LEAD
    edges that span epoch boundaries."""
    import os
    import time

    from pyspark.sql import functions as F

    from crgp_spark.config import EngineConfig
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.temporalreach import (
        earliest_arrival,
        temporal_edges,
    )
    from crgp_spark.streaming.temporal import stream_earliest_arrival

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp_ntz")
    )
    work = str(tmp_path / "ordered_log")
    (
        ev.repartitionByRange(5, "ts", "event_id")
        .sortWithinPartitions("ts", "event_id")
        .write.parquet(work)
    )
    # simulate ordered log arrival: ascending mtimes in range order
    # (the file source picks older files first)
    parts = sorted(
        f for f in os.listdir(work) if f.startswith("part-")
    )
    t0 = time.time() - len(parts) * 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(work, f), (t0 + i * 10, t0 + i * 10))

    seeds = (
        ev.filter(F.col("user_id") % 7 == 0)
        .groupBy(F.col("user_id").alias("vid"))
        .agg(F.min(ts_micros("ts")).alias("arrival"))
    )
    cfg = EngineConfig(
        shuffle_partitions=8, checkpoint_dir=str(tmp_path / "ck")
    )
    got = sorted(
        map(
            tuple,
            stream_earliest_arrival(
                spark, work, seeds, cfg,
                max_files_per_trigger=files_per_trigger,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            earliest_arrival(
                spark, temporal_edges(spark.read.parquet(work)), seeds, cfg
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


@pytest.mark.parametrize("files_per_trigger", [1, 3, None])
def test_stream_hll_matches_batch(spark, tmp_path, files_per_trigger):
    """Streaming HLL: registers folded through the streaming state
    store equal the batch sketch at any micro-batch slicing (MAX is a
    commutative idempotent monoid), so the integer summary and the
    pinned α-estimate match bit-for-bit."""
    from crgp_spark.operators.hll import hll_distinct
    from crgp_spark.streaming.windows import stream_hll_distinct

    src = "/root/testdata/sf0.001/events.parquet"
    work = str(tmp_path / "hll_in")
    spark.read.parquet(src).repartition(12).write.parquet(work)
    out = stream_hll_distinct(
        spark, work, "event_type", "user_id", p=5,
        max_files_per_trigger=files_per_trigger,
    )
    want_df = hll_distinct(
        spark.read.parquet(work), "event_type", "user_id", p=5
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, want_df.collect()))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("files_per_trigger", [1, None])
def test_stream_seqmatch_matches_batch(spark, tmp_path, files_per_trigger):
    """Streaming sequential-pattern census: per-key (us,event_id,code)
    multisets accumulated in the state store drain to the exact batch
    code strings at ANY micro-batch slicing (multiset union is a
    commutative monoid; the total order is rebuilt at drain), so the
    regex hit counts match bit-for-bit."""
    from crgp_spark.operators.seqmatch import (
        keyed_sequences,
        sequence_pattern_counts,
    )
    from crgp_spark.streaming.sequences import stream_sequence_counts

    codes = {
        "click": "c", "error": "e", "purchase": "p",
        "signup": "s", "view": "v",
    }
    src = "/root/testdata/sf0.001/events.parquet"
    work = str(tmp_path / "seq_in")
    spark.read.parquet(src).repartition(10, "event_id").write.parquet(work)
    out = stream_sequence_counts(
        spark, work, codes, "e+c",
        max_files_per_trigger=files_per_trigger,
    )
    want_df = sequence_pattern_counts(
        keyed_sequences(spark.read.parquet(work), codes), "e+c"
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, want_df.collect()))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("files_per_trigger", [1, 3, None])
def test_stream_hist_quantiles_matches_batch(spark, tmp_path,
                                             files_per_trigger):
    """Streaming histogram-quantile sketch: bucket counts folded
    through the streaming state store equal the batch sketch at any
    micro-batch slicing (per-bucket SUM is a commutative monoid), so
    every quantile read off the drained sketch matches bit-for-bit."""
    from crgp_spark.operators.histogram import hist_grouped_quantiles
    from crgp_spark.streaming.windows import stream_hist_quantiles

    src = "/root/testdata/sf0.001/events.parquet"
    work = str(tmp_path / "histq_in")
    spark.read.parquet(src).repartition(12).write.parquet(work)
    bs = [10.0, 50.0, 100.0, 200.0]
    qs = [0.5, 0.9]
    out = stream_hist_quantiles(
        spark, work, "event_type", "value", bs, qs,
        max_files_per_trigger=files_per_trigger,
    )
    want_df = hist_grouped_quantiles(
        spark.read.parquet(work), "event_type", "value", bs, qs
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, want_df.collect()))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("files_per_trigger", [1, 3, None])
def test_stream_auc_matches_batch(spark, tmp_path, files_per_trigger):
    """Streaming midrank AUC: score-group (cnt, pos) counts folded
    through the streaming state store equal the batch statistic at any
    micro-batch slicing (both counts are SUM monoids)."""
    from pyspark.sql import functions as F

    from crgp_spark.operators.evalmetrics import roc_auc
    from crgp_spark.streaming.windows import stream_roc_auc

    src = "/root/testdata/sf0.001/documents.parquet"
    work = str(tmp_path / "auc_in")
    spark.read.parquet(src).repartition(12).write.parquet(work)
    out = stream_roc_auc(
        spark, work, "n_chars", "lang = 'en'",
        max_files_per_trigger=files_per_trigger,
    )
    want_df = roc_auc(
        spark.read.parquet(work), F.col("n_chars"), F.col("lang") == "en"
    )
    assert out.collect() == want_df.collect()


@pytest.mark.parametrize("files_per_trigger", [1, None])
def test_stream_calibration_matches_batch(spark, tmp_path,
                                          files_per_trigger):
    """Streaming reliability diagram: bucket (n, n_pos) SUM monoids
    drain to the exact batch curve at any micro-batch slicing."""
    from pyspark.sql import functions as F

    from crgp_spark.operators.evalmetrics import calibration_curve
    from crgp_spark.streaming.windows import stream_calibration

    src = "/root/testdata/sf0.001/documents.parquet"
    work = str(tmp_path / "calib_in")
    spark.read.parquet(src).repartition(12).write.parquet(work)
    out = stream_calibration(
        spark, work, "n_chars", "lang = 'en'", 150,
        max_files_per_trigger=files_per_trigger,
    )
    want = calibration_curve(
        spark.read.parquet(work), F.col("n_chars"),
        F.col("lang") == "en", 150
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, want.collect())
    ) and out.count() > 0
