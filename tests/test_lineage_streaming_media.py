"""Checkpoint-resume, streaming, and multimodal plumbing tests."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from relation_extraction_transformer_spark.operators import multimodal as MM
from relation_extraction_transformer_spark.plans import lineage as LIN
from relation_extraction_transformer_spark.sources import pages as PG
from relation_extraction_transformer_spark.streaming import stream as ST


def test_resumable_materialization(spark, tmp_path):
    out = str(tmp_path / "kg_out")
    pages = PG.synthetic_pages(spark, 40, seed=5, partitions=4)

    r1 = LIN.materialize_triples_resumable(
        spark, pages, out, run_id="r1", n_buckets=8, buckets_per_group=4
    )
    assert sorted(r1.buckets_done) == list(range(8))
    n1 = spark.read.parquet(f"{out}/triples").count()
    assert n1 == r1.rows_out > 0

    # resume: everything already done -> nothing recomputed
    r2 = LIN.materialize_triples_resumable(
        spark, pages, out, run_id="r2", n_buckets=8, buckets_per_group=4
    )
    assert r2.buckets_done == [] and sorted(r2.buckets_skipped) == list(range(8))
    assert spark.read.parquet(f"{out}/triples").count() == n1

    # partial manifest: drop half the manifest -> only missing buckets redone
    manifest = spark.read.parquet(f"{out}/_manifest")
    half_rows = manifest.filter(F.col("bucket") < 4).collect()
    shutil.rmtree(f"{out}/_manifest")
    spark.createDataFrame(half_rows, manifest.schema).write.parquet(
        f"{out}/_manifest"
    )
    r3 = LIN.materialize_triples_resumable(
        spark, pages, out, run_id="r3", n_buckets=8, buckets_per_group=4
    )
    assert sorted(r3.buckets_done) == [4, 5, 6, 7]
    assert spark.read.parquet(f"{out}/triples").count() == n1

    # lineage rows recorded per run
    m = spark.read.parquet(f"{out}/_metrics")
    assert {r.run_id for r in m.collect()} >= {"r1", "r3"}


def test_unreadable_manifest_raises_instead_of_recomputing(spark, tmp_path):
    """Only a missing manifest means "no bucket done"; a manifest that
    cannot be read must stop the run before it recomputes and
    re-appends every bucket."""
    from pyspark.errors import AnalysisException

    out = str(tmp_path / "kg_out")
    os.makedirs(out)
    with open(f"{out}/_manifest", "w") as fh:
        fh.write("not parquet\n")
    pages = PG.synthetic_pages(spark, 8, seed=5, partitions=2)
    with pytest.raises(AnalysisException):
        LIN.materialize_triples_resumable(
            spark, pages, out, run_id="r1", n_buckets=4, buckets_per_group=4
        )
    assert not os.path.exists(f"{out}/triples")


def test_streaming_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "events_src")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    out = str(tmp_path / "win_out")
    ck = str(tmp_path / "ck")
    q = ST.run_stream_to_parquet(
        ST.windowed_event_counts(spark, src), out, ck, once=True
    )
    assert not q.isActive
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert set(got.columns) == {
        "window_start", "window_end", "event_type", "n", "value_cents"
    }


def test_streaming_triples_incremental(spark, tmp_path):
    src = str(tmp_path / "pages_src")
    PG.synthetic_pages(spark, 20, seed=13, partitions=2).write.parquet(src)
    out = str(tmp_path / "triples_out")
    ck = str(tmp_path / "ck2")
    ST.run_stream_to_parquet(ST.streaming_triples(spark, src), out, ck, once=True)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # append more pages -> only the new files are processed on resume
    PG.synthetic_pages(spark, 10, seed=14, partitions=1).write.mode(
        "append"
    ).parquet(src)
    ST.run_stream_to_parquet(ST.streaming_triples(spark, src), out, ck, once=True)
    n2 = spark.read.parquet(out).count()
    assert n2 > n1


def test_media_features_and_dedup(spark):
    media = MM.synthetic_media(spark, 30, seed=3)
    feats = MM.extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows[:5]:
        assert len(r.features) == 16
        assert r.decoder == "stub-histogram"  # no codec libs in container
        assert r.n_bytes > 0
    # determinism
    again = {r.media_id: r.sha1 for r in MM.extract_media_features(media).collect()}
    assert again == {r.media_id: r.sha1 for r in rows}
    # content dedup composes (no dups in this corpus -> empty result is fine)
    assert MM.media_dedup_by_content(feats).count() >= 0


def test_stateful_stream_dedup(spark, tmp_path):
    from relation_extraction_transformer_spark.streaming import stateful as SD

    src = str(tmp_path / "dup_pages")
    out = str(tmp_path / "dedup_out")
    ck = str(tmp_path / "dedup_ck")
    p1 = PG.synthetic_pages(spark, 30, seed=31, partitions=2)
    p1.select("url", "warc_ts", "lang", "text").write.parquet(src)

    def run_once():
        stream = spark.readStream.schema(
            "url string, warc_ts timestamp, lang string, text string"
        ).parquet(src)
        q = (
            SD.dedup_pages_stream(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ck)
            .format("parquet").option("path", out)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 30  # all first-seen

    # re-deliver the SAME 30 pages plus 10 new ones -> only 10 emitted
    p1.select("url", "warc_ts", "lang", "text").write.mode("append").parquet(src)
    PG.synthetic_pages(spark, 40, seed=31, partitions=2).filter(
        ~F.col("url").isin([r.url for r in p1.select("url").collect()])
    ).select("url", "warc_ts", "lang", "text").write.mode("append").parquet(src)
    run_once()
    urls = [r.url for r in spark.read.parquet(out).collect()]
    assert len(urls) == len(set(urls)), "stream emitted a duplicate url"
    assert len(urls) == 40


def test_bucketed_input_partition_pruning(spark, tmp_path):
    """With a pre-bucketed pages table, each resume group's scan prunes to
    its own partition directories instead of rescanning the table."""
    src = str(tmp_path / "bucketed_pages")
    out = str(tmp_path / "bucketed_out")
    pages = PG.synthetic_pages(spark, 40, seed=5, partitions=4)
    LIN.write_bucketed_pages(pages, src, n_buckets=8)

    bucketed = spark.read.parquet(src)
    one_group = bucketed.filter(F.col("bucket").isin([0, 1]))
    plan = one_group._jdf.queryExecution().executedPlan().toString()
    # the bucket predicate must land in PartitionFilters (pruned at the
    # source), not in the row-level DataFilters
    assert "PartitionFilters:" in plan
    partition_filters = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in partition_filters

    r = LIN.materialize_triples_resumable(
        spark, bucketed, out, run_id="b1", n_buckets=8, buckets_per_group=4
    )
    assert sorted(r.buckets_done) == list(range(8))
    # same triples as the hash-on-the-fly path over the same pages
    out2 = str(tmp_path / "unbucketed_out")
    r2 = LIN.materialize_triples_resumable(
        spark, pages, out2, run_id="b2", n_buckets=8, buckets_per_group=4
    )
    t1 = {tuple(x) for x in spark.read.parquet(f"{out}/triples")
          .select("url", "sent_id", "pair_id", "pred").collect()}
    t2 = {tuple(x) for x in spark.read.parquet(f"{out2}/triples")
          .select("url", "sent_id", "pair_id", "pred").collect()}
    assert t1 == t2 and r.rows_out == r2.rows_out


@pytest.mark.parametrize("stored", [16, 4])
def test_bucketed_input_of_another_bucket_count_raises(
    spark, tmp_path, stored
):
    """A pre-bucketed input written with another bucket count stops the
    run before any group: trusting its stored bucket column would drop
    the pages filed under buckets >= n_buckets (16 -> 8) or file pages
    under the wrong bucket (4 -> 8)."""
    src = str(tmp_path / "bucketed_pages")
    out = str(tmp_path / "out")
    pages = PG.synthetic_pages(spark, 40, seed=5, partitions=4)
    LIN.write_bucketed_pages(pages, src, n_buckets=stored)
    with pytest.raises(ValueError, match="bucket"):
        LIN.materialize_triples_resumable(
            spark, spark.read.parquet(src), out, run_id="b1", n_buckets=8,
            buckets_per_group=4,
        )
    assert not os.path.exists(f"{out}/triples")


def test_resume_with_another_bucket_count_raises(spark, tmp_path):
    """The manifest records n_buckets: a resume under another count
    would read bucket ids of the old partitioning as done."""
    out = str(tmp_path / "kg_out")
    pages = PG.synthetic_pages(spark, 16, seed=5, partitions=2)
    LIN.materialize_triples_resumable(
        spark, pages, out, run_id="r1", n_buckets=4, buckets_per_group=4
    )
    with pytest.raises(ValueError, match="n_buckets"):
        LIN.materialize_triples_resumable(
            spark, pages, out, run_id="r2", n_buckets=8, buckets_per_group=4
        )
    manifest = spark.read.parquet(f"{out}/_manifest")
    assert {r.run_id for r in manifest.collect()} == {"r1"}
    # a manifest that does not record its bucket count is refused too
    rows = manifest.drop("n_buckets").collect()
    shutil.rmtree(f"{out}/_manifest")
    spark.createDataFrame(rows).write.parquet(f"{out}/_manifest")
    with pytest.raises(ValueError, match="n_buckets"):
        LIN.materialize_triples_resumable(
            spark, pages, out, run_id="r3", n_buckets=4, buckets_per_group=4
        )


def test_resize_images_plumbing(spark):
    from relation_extraction_transformer_spark.operators import multimodal as MM

    media = MM.synthetic_media(spark, 30)
    out = MM.resize_images(media, max_side=64).collect()
    assert len(out) == sum(1 for r in media.collect() if r.kind == "image")
    for r in out:
        assert max(r.width, r.height) <= 64 and min(r.width, r.height) >= 1
        assert r.resizer in ("pil", "stub-passthrough")
        assert len(bytes(r.payload)) > 0
    # deterministic across runs/partitionings
    out2 = MM.resize_images(media.repartition(7), max_side=64).collect()
    assert sorted((r.media_id, r.width, r.height) for r in out) == sorted(
        (r.media_id, r.width, r.height) for r in out2
    )


def test_sample_frames_plumbing(spark):
    from relation_extraction_transformer_spark.operators import multimodal as MM

    media = MM.synthetic_media(spark, 30)
    frames = MM.sample_frames(media, every_ms=5000, max_frames=4).collect()
    vids = {r.media_id: r for r in media.collect() if r.kind == "video"}
    assert {f.media_id for f in frames} == set(vids)
    by_vid = {}
    for f in frames:
        by_vid.setdefault(f.media_id, []).append(f)
    for mid, fs in by_vid.items():
        assert len(fs) <= 4
        assert sorted(f.frame_idx for f in fs) == list(range(len(fs)))
        for f in fs:
            assert f.frame_ts_ms == f.frame_idx * 5000
            assert len(bytes(f.frame)) > 0


def test_stateful_sessionize_stream(spark, tmp_path):
    """Custom stateful operator #2: event-time sessions close when a
    later event arrives past the 30-min gap; events within the gap extend
    one session."""
    import datetime as dt

    from relation_extraction_transformer_spark.streaming import (
        stateful as SD,
    )

    src = str(tmp_path / "events_src")
    out = str(tmp_path / "sessions_out")
    ck = str(tmp_path / "sessions_ck")

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def ev(uid, minutes):
        return (uid, base + dt.timedelta(minutes=minutes))

    # user 1: two sessions (gap 60 min between minute 10 and 70);
    # user 2: one session, all within gaps
    rows = [ev(1, 0), ev(1, 10), ev(1, 70), ev(1, 75),
            ev(2, 0), ev(2, 20), ev(2, 40)]
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        SD.sessionize_events_stream(stream, idle_timeout=False)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    q.stop()

    closed = {
        (r.user_id, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # only user 1's FIRST session is provably closed inside the batch
    # (the open sessions close later via timeout in a live stream)
    assert (1, 2) in closed
    assert all(uid != 2 for uid, _ in closed), "user 2 never exceeded the gap"

class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState stand-in for unit-testing
    the session function's merge logic without a streaming query."""

    def __init__(self, value=None):
        self._v = tuple(value) if value is not None else None
        self.hasTimedOut = False
        self.timeout_calls = []

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        if self._v is None:
            raise ValueError("state does not exist")
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_calls.append(ms)


def test_session_fn_extends_start_backward_for_late_events():
    """ADVICE r2: an out-of-order event EARLIER than the stored session
    start but within the gap must pull session_start backward, matching
    the batch sessionize twin (which sees events globally sorted)."""
    import pandas as pd

    from relation_extraction_transformer_spark.streaming import stateful as SF

    base_ms = 1_700_000_000_000
    state = _FakeGroupState((base_ms, base_ms, 1))
    late = pd.DataFrame(
        {"ts": pd.to_datetime([base_ms - 60_000], unit="ms")}
    )
    out = list(SF._session_fn((7,), iter([late]), state))
    assert out == []  # still one open session, nothing closed
    start, last, n = state.get
    assert start == base_ms - 60_000  # extended backward
    assert last == base_ms
    assert n == 2


def test_session_fn_bounds_backward_merge_by_gap():
    """ADVICE r3: an event OLDER than session_start by more than the gap
    must NOT merge into the open session (t - last <= gap is always true
    for t < last, which previously pulled start back unboundedly).  The
    batch twin gap-splits on the sorted stream, so such an event is its
    own closed session."""
    import pandas as pd

    from relation_extraction_transformer_spark.streaming import stateful as SF

    base_ms = 1_700_000_000_000
    gap = SF.SESSION_GAP_MS
    state = _FakeGroupState((base_ms, base_ms, 1))
    # 3 h before the open session start: hours too old to merge
    very_late = pd.DataFrame(
        {"ts": pd.to_datetime([base_ms - 6 * gap], unit="ms")}
    )
    [out] = list(SF._session_fn((7,), iter([very_late]), state))
    assert len(out) == 1
    row = out.iloc[0]
    assert bool(row.closed) and int(row.n_events) == 1
    assert int(row.session_start.value // 1_000_000) == base_ms - 6 * gap
    assert state.get == (base_ms, base_ms, 1)  # open session untouched


def test_session_fn_late_chain_gap_splits_and_can_merge():
    """Two halves of the late-event contract: (a) several too-old events
    gap-split among THEMSELVES like the batch twin; (b) when an in-gap
    late event extends the session backward far enough, the late chain's
    tail merges into the open session."""
    import pandas as pd

    from relation_extraction_transformer_spark.streaming import stateful as SF

    gap = SF.SESSION_GAP_MS
    base_ms = 1_700_000_000_000

    # (a) two late clusters separated by > gap, both > gap below start
    state = _FakeGroupState((base_ms, base_ms, 2))
    late = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                [base_ms - 5 * gap, base_ms - 5 * gap + 1000,
                 base_ms - 3 * gap],
                unit="ms",
            )
        }
    )
    [out] = list(SF._session_fn((7,), iter([late]), state))
    got = sorted(
        (int(r.session_start.value // 10**6), int(r.n_events))
        for _, r in out.iterrows()
    )
    assert got == [(base_ms - 5 * gap, 2), (base_ms - 3 * gap, 1)]
    assert state.get == (base_ms, base_ms, 2)

    # (b) chain tail at start-1.5gap + in-gap event at start-0.8gap:
    # the in-gap event drags start down, bringing the chain within the
    # gap -> all one open session
    state = _FakeGroupState((base_ms, base_ms, 1))
    late = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                [base_ms - int(1.5 * gap), base_ms - int(0.8 * gap)],
                unit="ms",
            )
        }
    )
    out = list(SF._session_fn((7,), iter([late]), state))
    assert out == []  # nothing closed: everything merged
    start, last, n = state.get
    assert (start, last, n) == (base_ms - int(1.5 * gap), base_ms, 3)


def test_session_fn_empty_batch_keeps_state():
    """ADVICE r2: a zero-DataFrame (or all-empty) iterator must not raise
    in pd.concat and must leave existing state untouched."""
    import pandas as pd

    from relation_extraction_transformer_spark.streaming import stateful as SF

    base_ms = 1_700_000_000_000
    state = _FakeGroupState((base_ms, base_ms, 3))
    out = list(SF._session_fn((7,), iter([]), state))
    assert out == []
    assert state.get == (base_ms, base_ms, 3)

    empty = pd.DataFrame({"ts": pd.to_datetime([], unit="ms")})
    out = list(SF._session_fn((7,), iter([empty]), state))
    assert out == []
    assert state.get == (base_ms, base_ms, 3)

    # and with NO prior state it must not invent one
    fresh = _FakeGroupState()
    out = list(SF._session_fn((8,), iter([]), fresh))
    assert out == []
    assert not fresh.exists


def test_streaming_triples_match_batch_and_feed_degree_distribution(
    spark, tmp_path
):
    """Streamed extraction over an append-only pages directory must
    equal the batch plan's triples exactly (same plan composed onto
    readStream), the second trigger must append exactly the new pages'
    triples, and analytics over the streamed triples must equal the
    batch analytics.  The incremental edge fold over a stream is
    covered by tests/test_streaming_fold.py."""
    from relation_extraction_transformer_spark.plans import graph as GR
    from relation_extraction_transformer_spark.plans import pipeline as PL

    src = str(tmp_path / "pages_inc")
    out = str(tmp_path / "triples_inc")
    ck = str(tmp_path / "ck_inc")
    page_id = F.regexp_extract("url", r"/articles/(\d+)$", 1).cast("int")

    # batch A = pages 0-23, batch B = pages 24-35 of the SAME seed, so
    # appending B never reuses an url
    all_pages = PG.synthetic_pages(spark, 36, seed=51, partitions=3)
    all_pages.filter(page_id < 24).write.parquet(src)
    ST.run_stream_to_parquet(ST.streaming_triples(spark, src), out, ck, once=True)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    all_pages.filter(page_id >= 24).write.mode("append").parquet(src)
    ST.run_stream_to_parquet(ST.streaming_triples(spark, src), out, ck, once=True)
    t_all = spark.read.parquet(out).cache()

    # 1) streamed == batch, row-exact
    batch = PL.triples_plan(
        spark.read.parquet(src), spark, keep_probs=False
    )
    key = ["url", "sent_id", "pair_id", "subj", "pred", "obj"]
    assert t_all.count() == batch.count()
    assert (
        t_all.select(*key).exceptAll(batch.select(*key)).count() == 0
    ), "streaming plan diverged from the batch plan"

    # 2) the second trigger appended exactly batch B's triples
    assert t_all.filter(page_id >= 24).count() == t_all.count() - n1

    # 3) stream -> analytics loop closes (VERDICT r4 #5): the degree
    # distribution refreshed over the streamed triples must EXACTLY equal
    # the batch kg_degree_distribution operator over the same corpus
    # (stream==batch triples are row-exact per (1), so any divergence
    # here is a bug in the analytics chaining itself)
    got_dist = sorted(
        tuple(r) for r in GR.degree_distribution(t_all).collect()
    )
    want_dist = sorted(
        tuple(r) for r in GR.degree_distribution(batch).collect()
    )
    assert got_dist == want_dist, "streamed degree distribution diverged"


def test_session_fn_resolves_late_chain_before_forward_split():
    """Review r4: a late chain pending when a forward gap-split closes
    the initial session must merge against THAT session, not against the
    fresh post-split one.  State (start=S, last=S+10s), gap g, batch
    [S-1.2g, S-0.9g, S+3g]: S-1.2g is BEYOND the gap and opens the late
    chain; S-0.9g is in-gap and extends start backward, bringing the
    chain tail within the gap of the new start; S+3g forward-splits.
    The batch twin yields ONE closed session [S-1.2g, S+10s] of 4
    events plus the new open session at S+3g — the deferred-merge bug
    compared the chain against the POST-split start and emitted
    (S-0.9g..S+10s) plus a bogus single-event (S-1.2g) session
    instead.  (The offsets are gap-scaled: sub-gap offsets would take
    the plain in-gap path and never form a chain.)"""
    import pandas as pd

    from relation_extraction_transformer_spark.streaming import stateful as SF

    base = 1_700_000_000_000
    gap = SF.SESSION_GAP_MS
    t_chain = base - int(1.2 * gap)
    t_ingap = base - int(0.9 * gap)
    state = _FakeGroupState((base, base + 10_000, 2))
    batch = pd.DataFrame(
        {"ts": pd.to_datetime(
            [t_chain, t_ingap, base + 3 * gap], unit="ms"
        )}
    )
    [out] = list(SF._session_fn((7,), iter([batch]), state))
    assert len(out) == 1, f"expected one closed session, got\n{out}"
    row = out.iloc[0]
    assert int(row.session_start.value // 1_000_000) == t_chain
    assert int(row.session_end.value // 1_000_000) == base + 10_000
    assert int(row.n_events) == 4
    assert state.get == (base + 3 * gap, base + 3 * gap, 1)


def test_session_fn_emits_out_of_gap_chain_at_forward_split():
    """Companion case: the pending chain is NOT within the gap of the
    initial session when the forward split closes it — the chain must be
    emitted as its own closed session (matching the batch twin), never
    compared against the post-split session."""
    import pandas as pd

    from relation_extraction_transformer_spark.streaming import stateful as SF

    base = 1_700_000_000_000
    gap = SF.SESSION_GAP_MS
    state = _FakeGroupState((base, base + 10_000, 2))
    batch = pd.DataFrame(
        {"ts": pd.to_datetime([base - 5 * gap, base + 3 * gap], unit="ms")}
    )
    [out] = list(SF._session_fn((7,), iter([batch]), state))
    assert len(out) == 2
    chain, closed = out.iloc[0], out.iloc[1]
    assert int(chain.session_start.value // 1_000_000) == base - 5 * gap
    assert int(chain.n_events) == 1
    assert int(closed.session_start.value // 1_000_000) == base
    assert int(closed.n_events) == 2
    assert state.get == (base + 3 * gap, base + 3 * gap, 1)


def _dedup_batch(urls):
    import pandas as pd

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime([1_700_000_000_000] * len(urls),
                                      unit="ms"),
            "lang": ["en"] * len(urls),
            "text": ["t"] * len(urls),
            # stand-in for the JVM xxhash64 column: any stable int64
            "url_h": [hash(u) & 0x7FFFFFFFFFFFFFFF for u in urls],
        }
    )


def test_dedup_fn_ttl_evicts_state_and_reemits_once():
    """VERDICT r5 #4: the ProcessingTimeTimeout path of the streaming
    dedup — state evicts after the recrawl horizon (fake timeout tick)
    and a re-delivered url re-emits EXACTLY once post-eviction."""
    from relation_extraction_transformer_spark.streaming import stateful as SF

    ttl = 3_600_000
    fn = SF._make_dedup_fn(ttl)
    state = _FakeGroupState()

    out = list(fn((0,), iter([_dedup_batch(["a", "b", "a"])]), state))
    assert sum(len(o) for o in out) == 2  # in-batch dup suppressed
    ver, hashes = state.get
    assert ver == SF.STATE_FORMAT_VERSION and len(hashes) == 2
    assert state.timeout_calls == [ttl]  # TTL armed on every update

    # re-delivery before the horizon: suppressed
    out = list(fn((0,), iter([_dedup_batch(["a"])]), state))
    assert sum(len(o) for o in out) == 0

    # fake timeout tick: shard idle past the recrawl horizon -> evicted
    state.hasTimedOut = True
    assert list(fn((0,), iter([]), state)) == []
    assert not state.exists, "timed-out shard state must be removed"

    # post-eviction re-delivery: re-emits exactly once, then dedups again
    state.hasTimedOut = False
    out = list(fn((0,), iter([_dedup_batch(["a", "a"])]), state))
    assert sum(len(o) for o in out) == 1
    out = list(fn((0,), iter([_dedup_batch(["a"])]), state))
    assert sum(len(o) for o in out) == 0


def test_dedup_fn_rejects_stale_state_format():
    """ADVICE r5: a checkpoint from an older state format must fail
    loudly (in-band version sentinel), never silently re-emit."""
    import pytest

    from relation_extraction_transformer_spark.streaming import stateful as SF

    state = _FakeGroupState((SF.STATE_FORMAT_VERSION - 1, [123]))
    with pytest.raises(ValueError, match="fresh checkpoint"):
        list(SF._make_dedup_fn(None)((0,), iter([_dedup_batch(["a"])]),
                                     state))


def test_dedup_fn_no_ttl_never_arms_timeout():
    from relation_extraction_transformer_spark.streaming import stateful as SF

    state = _FakeGroupState()
    list(SF._dedup_fn((0,), iter([_dedup_batch(["a"])]), state))
    assert state.timeout_calls == []


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """Streamed HLL registers == batch sketch of the same corpus, and a
    second incremental delivery folds in exactly (final registers equal
    the batch sketch over the union) — the sketch-maintenance loop a
    24/7 ingest would run."""
    from relation_extraction_transformer_spark.functions import sketches as SK
    from relation_extraction_transformer_spark.streaming import stream as ST

    src = str(tmp_path / "docs")
    ck = str(tmp_path / "hll_ck")
    schema = "doc_id long, text string"

    d1 = spark.createDataFrame(
        [(i, f"alpha tok{i} beta tok{i % 7}") for i in range(60)], schema
    )
    d1.write.parquet(src)

    def run_once():
        q = (
            ST.streaming_hll_registers(spark, src, schema)
            .writeStream.outputMode("complete")
            .option("checkpointLocation", ck)
            .format("memory").queryName("hll_regs")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return sorted(
            map(tuple, spark.sql("SELECT bucket, rho FROM hll_regs").collect())
        )

    def batch_regs(df):
        toks = df.selectExpr(
            "explode(split(lower(text), ' ')) AS tok"
        ).filter("tok <> ''")
        return sorted(
            map(tuple, SK.hll_registers(toks, "tok").collect())
        )

    assert run_once() == batch_regs(d1)

    d2 = spark.createDataFrame(
        [(1000 + i, f"gamma tok{i} delta") for i in range(40, 90)], schema
    )
    d2.write.mode("append").parquet(src)
    assert run_once() == batch_regs(d1.unionAll(d2))
