"""Ingestion pipeline (S2/S8) and Structured Streaming tests."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from chatdata_spark.sources.ingest import (
    embed_and_validate,
    parse_uploads,
    read_json_bulk,
    validate_vector_dim,
)
from chatdata_spark.streaming.incremental import incremental_embed, windowed_event_counts


def test_read_json_bulk_with_schema_and_compression(spark, tmp_path):
    import gzip
    import json

    p = tmp_path / "in"
    p.mkdir()
    rows = [{"id": i, "t": f"text {i}"} for i in range(20)]
    with gzip.open(p / "part0.json.gz", "wt") as f:
        for r in rows[:10]:
            f.write(json.dumps(r) + "\n")
    with open(p / "part1.json", "w") as f:
        for r in rows[10:]:
            f.write(json.dumps(r) + "\n")
    df = read_json_bulk(spark, str(p / "part*"), "id bigint, t string")
    assert df.count() == 20 and dict(df.dtypes) == {"id": "bigint", "t": "string"}


def test_upload_pipeline_end_to_end(spark, tmp_path):
    """S8: binary files → parse (stub) → NarrativeText>10w filter →
    entity_id → embed → dim-valid rows."""
    p = tmp_path / "files"
    p.mkdir()
    long_para = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    (p / "doc1.txt").write_text(f"{long_para}\n\nshort one\n\ntitle line that is long enough to pass ten words easily")
    (p / "doc2.txt").write_text(f"{long_para} extra tokens here\n\n{long_para}")
    files = spark.read.format("binaryFile").load(str(p))
    parsed = parse_uploads(files)
    rows = parsed.collect()
    assert all(len(r.text.split(" ")) > 10 for r in rows)
    assert all(len(r.entity_id) == 64 for r in rows)
    embedded = embed_and_validate(parsed, "text", dim=16)
    out = embedded.collect()
    assert len(out) == len(rows) and all(len(r.vector) == 16 for r in out)
    # re-parse is deterministic → same entity_ids (upsert-stable)
    again = {r.entity_id for r in parse_uploads(files).collect()}
    assert again == {r.entity_id for r in rows}


def test_validate_vector_dim_split(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0]), (3, None)], "id int, v array<float>"
    )
    ok, bad = validate_vector_dim(df, "v", 2)
    assert [r.id for r in ok.collect()] == [1]
    assert sorted(r.id for r in bad.collect()) == [2, 3]


def test_incremental_embed_exactly_once(spark, tmp_path):
    ind, outd, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(ind)
    spark.createDataFrame([(1, "first doc"), (2, "second doc")], "doc_id bigint, text string").write.mode(
        "append"
    ).parquet(ind)
    incremental_embed(spark, ind, outd, ckpt, dim=8)
    assert spark.read.parquet(outd).count() == 2
    # new arrivals only — old files are not reprocessed (checkpoint)
    spark.createDataFrame([(3, "third doc")], "doc_id bigint, text string").write.mode("append").parquet(ind)
    incremental_embed(spark, ind, outd, ckpt, dim=8)
    out = spark.read.parquet(outd)
    assert out.count() == 3  # would be 5 if batch 1 were re-embedded
    assert out.filter(F.size("vector") != 8).count() == 0


def test_windowed_event_counts_with_watermark(spark, tmp_path):
    import datetime

    ind, outd, ckpt = str(tmp_path / "ev"), str(tmp_path / "agg"), str(tmp_path / "ck2")
    os.makedirs(ind)
    base = datetime.datetime(2023, 1, 1, 12, 0, 0)

    def ev(i, mins, typ, v):
        return (i, base + datetime.timedelta(minutes=mins), typ, v)

    spark.createDataFrame(
        [ev(1, 0, "click", 1.0), ev(2, 1, "click", 2.0), ev(3, 6, "view", 3.0), ev(4, 30, "click", 4.0)],
        "event_id bigint, ts timestamp, event_type string, value double",
    ).write.mode("append").parquet(ind)
    windowed_event_counts(spark, ind, outd, ckpt, window="5 minutes", watermark="10 minutes")
    got = {(r.window_start.isoformat(), r.event_type): (r.n, r.total) for r in spark.read.parquet(outd).collect()}
    # the 12:00 and 12:05 windows are closed by the 12:30 event's watermark
    assert got[("2023-01-01T12:00:00", "click")] == (2, 3.0)
    assert got[("2023-01-01T12:05:00", "view")] == (1, 3.0)


def test_stream_upsert_into_store(spark, tmp_path):
    """foreachBatch streaming upsert: later batches overwrite same-key rows
    (keep-latest), new keys append, reprocessing is checkpoint-guarded."""
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.incremental import stream_upsert_into_store

    ind, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(ind)
    store = VersionedParquetStore(spark, str(tmp_path / "store"))
    schema = "entity_id string, text string, version bigint"
    spark.createDataFrame([("a", "v1", 1), ("b", "v1", 1)], schema).write.mode("append").parquet(ind)
    stream_upsert_into_store(spark, ind, store, ["entity_id"], "version", ckpt, schema)
    assert {(r.entity_id, r.text) for r in store.read().collect()} == {("a", "v1"), ("b", "v1")}

    spark.createDataFrame([("a", "v2", 2), ("c", "v1", 1)], schema).write.mode("append").parquet(ind)
    stream_upsert_into_store(spark, ind, store, ["entity_id"], "version", ckpt, schema)
    got = {(r.entity_id, r.text) for r in store.read().collect()}
    assert got == {("a", "v2"), ("b", "v1"), ("c", "v1")}


def test_stream_distinct_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState first-arrival dedup: duplicates dropped within
    a batch AND across separate drains (state survives via checkpoint)."""
    from chatdata_spark.streaming.stateful import stream_distinct

    ind, outd, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(ind)
    schema = "entity_id string, text string"
    spark.createDataFrame(
        [("a", "first-a"), ("b", "first-b"), ("a", "dup-a")], schema
    ).write.mode("append").parquet(ind)
    stream_distinct(spark, ind, outd, ckpt, "entity_id", schema)
    got1 = {(r.entity_id, r.text) for r in spark.read.parquet(outd).collect()}
    assert {e for e, _ in got1} == {"a", "b"} and len(got1) == 2

    # second drain: 'b' already seen in checkpointed state → only 'c' emits
    spark.createDataFrame([("b", "dup-b"), ("c", "first-c")], schema).write.mode("append").parquet(ind)
    stream_distinct(spark, ind, outd, ckpt, "entity_id", schema)
    got2 = {r.entity_id for r in spark.read.parquet(outd).collect()}
    assert got2 == {"a", "b", "c"}
    assert spark.read.parquet(outd).count() == 3


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join (clicks x purchases within a 10-min
    attribution window) drained with availableNow must produce exactly the
    batch join's rows — and the streaming plan must carry watermarks on
    both sides (bounded state: the unbounded-stream survival property)."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.streaming.joins import purchase_click_attribution_join
    from tests.conftest import SF_ORACLE

    e = load_events(spark, SF_ORACLE).select("event_id", "ts", "user_id", "event_type")
    clicks_dir, purch_dir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    e.filter(F.col("event_type") == "click").write.parquet(clicks_dir)
    e.filter(F.col("event_type") == "purchase").write.parquet(purch_dir)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    sc = spark.readStream.schema(schema).parquet(clicks_dir)
    sp = spark.readStream.schema(schema).parquet(purch_dir)
    joined = purchase_click_attribution_join(sc, sp)
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.table("attrib").collect()
    }

    batch = purchase_click_attribution_join(
        spark.read.parquet(clicks_dir), spark.read.parquet(purch_dir)
    )
    want = {(r.user_id, r.click_id, r.purchase_id) for r in batch.collect()}
    assert got == want and len(want) > 0

    # bounded-state proof: watermarks present on the streaming plan
    assert "EventTimeWatermark" in joined._jdf.queryExecution().analyzed().toString()


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Streaming gap sessionization emits exactly the sessions the batch
    operator computes, once each, as they close (next event beyond gap or
    event-time timeout); the still-open tail session stays unemitted."""
    from datetime import datetime

    from chatdata_spark.operators.timeseries import sessionize
    from chatdata_spark.streaming.stateful import stream_sessionize

    ind, outd, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(ind)
    schema = "user_id long, ts timestamp"

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60)

    # user 1: sessions [0,10], [60,65], and [200] — the last closes via
    # EventTimeTimeout once user 2's t(300) event pushes the watermark past
    # 200+gap; user 2's [300] tail stays open (nothing advances past it)
    batch1 = [(1, t(0)), (1, t(10)), (2, t(5))]
    batch2 = [(1, t(60)), (1, t(65))]
    batch3 = [(1, t(200)), (2, t(300))]  # sentinels close all prior sessions
    for rows in (batch1, batch2, batch3):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(ind)
    stream_sessionize(spark, ind, outd, ckpt, "user_id", "ts", schema, gap_minutes=30.0)

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(outd).collect()
    }
    events = spark.createDataFrame(batch1 + batch2 + batch3, schema)
    s = sessionize(events, "user_id", "ts", gap_minutes=30.0)
    closed = (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        # closed = gap fully elapsed before the final watermark (t(300)-1s)
        .filter(F.col("session_end") + F.expr("INTERVAL 30 MINUTES") < F.lit(t(300)))
        .collect()
    )
    want = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in closed}
    assert got == want and len(got) == 4


def test_stream_near_dup_pairs_matches_batch(spark, tmp_path):
    """Streaming near-dup over two arrival waves == one-shot batch pairs,
    and a re-run with the same checkpoint (plus a replayed wave) adds
    nothing (store-keyed idempotence)."""
    from chatdata_spark.operators.dedup import minhash_lsh_pairs
    from chatdata_spark.operators.incdedup import IncrementalMinHashStore
    from chatdata_spark.streaming.incremental import stream_near_dup_pairs
    from tests.conftest import SF_ORACLE

    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select("doc_id", "text")
    ind = str(tmp_path / "in"); outd = str(tmp_path / "pairs"); ckpt = str(tmp_path / "ckpt")
    store = IncrementalMinHashStore(spark, str(tmp_path / "sigs"))
    schema = "doc_id bigint, text string"

    d.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(ind)
    stream_near_dup_pairs(spark, ind, store, outd, ckpt, schema)
    d.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(ind)
    stream_near_dup_pairs(spark, ind, store, outd, ckpt, schema)

    got = sorted((r.i, r.j, r.jaccard) for r in spark.read.parquet(outd).collect())
    want = sorted((r.i, r.j, r.jaccard) for r in minhash_lsh_pairs(d, "doc_id", "text").collect())
    assert got == want
    # replay wave 0 (same rows, new files) under the same checkpoint:
    # already-signed ids drop out in the foreachBatch body
    d.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(ind)
    stream_near_dup_pairs(spark, ind, store, outd, ckpt, schema)
    again = sorted((r.i, r.j, r.jaccard) for r in spark.read.parquet(outd).collect())
    assert again == want
    assert store.batches() == [0, 1]


def test_stream_distinct_ttl_bounds_state_and_reopens_horizon(spark, tmp_path):
    """Dedup-within-horizon: within the TTL a duplicate is swallowed;
    after the watermark passes first_arrival + TTL the seen-flag expires,
    so a later duplicate re-emits (the bounded-state contract — exact
    global dedup would otherwise hold one flag per key forever)."""
    from datetime import datetime

    from chatdata_spark.streaming.stateful import stream_distinct

    ind, outd, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(ind)
    schema = "k long, ts timestamp"

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60)

    # k=1 arrives at t0, duplicates at t10 (inside 30-min TTL) and t120
    # (after expiry); k=9 events only advance the watermark
    waves = [
        [(1, t(0)), (9, t(1))],
        [(1, t(10)), (9, t(50))],      # dup inside horizon + watermark push
        [(9, t(100))],                 # watermark passes t0+30 → flag expires
        [(1, t(120)), (9, t(130))],    # dup AFTER horizon → re-emits
    ]
    for rows in waves:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(ind)
        stream_distinct(spark, ind, outd, ckpt, "k", schema, ts_col="ts", ttl_minutes=30.0)

    got = sorted((r.k, r.ts) for r in spark.read.parquet(outd).collect() if r.k == 1)
    assert got == [(1, t(0)), (1, t(120))]


def test_stream_cms_merge_incremental_and_replay_safe(spark, tmp_path):
    """Two drains must yield the sketch of the UNION (merge law under real
    micro-batches), and a REPLAY of the first batch (same store, fresh
    checkpoint → foreachBatch re-delivers batch_id 0) must be skipped by
    the transactional batch-id guard — CMS merge is not idempotent, so
    without the guard the replay would double-count every first-wave
    cell."""
    from chatdata_spark.operators.cms import cms_build
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.incremental import stream_cms_merge

    ind = str(tmp_path / "in")
    os.makedirs(ind)
    schema = "item bigint"
    a = spark.range(0, 50).select(F.col("id").alias("item"))
    b = spark.range(25, 60).select(F.col("id").alias("item"))
    store = VersionedParquetStore(spark, str(tmp_path / "store"))

    a.coalesce(1).write.mode("append").parquet(ind)
    stream_cms_merge(spark, ind, store, str(tmp_path / "ck"), "item", schema, depth=2, width=16)
    b.coalesce(1).write.mode("append").parquet(ind)
    stream_cms_merge(spark, ind, store, str(tmp_path / "ck"), "item", schema, depth=2, width=16)

    want = {
        (r["row_idx"], r["col"], r["cnt"])
        for r in cms_build(a.union(b), "item", depth=2, width=16).collect()
    }
    got = {
        (r["row_idx"], r["col"], r["cnt"])
        for r in store.read().drop("last_batch").collect()
    }
    assert got == want

    # replay: fresh checkpoint re-delivers ALL files as batch 0; the store
    # has already committed batch 1, so the guard must skip it entirely
    v_before = store.current_version()
    stream_cms_merge(spark, ind, store, str(tmp_path / "ck2"), "item", schema, depth=2, width=16)
    assert store.current_version() == v_before
    got2 = {
        (r["row_idx"], r["col"], r["cnt"])
        for r in store.read().drop("last_batch").collect()
    }
    assert got2 == want


def test_stream_histogram_merge_incremental_and_replay_safe(spark, tmp_path):
    """Two drains must yield the histogram of the UNION (merge law under
    real micro-batches), and a replay of committed batches (fresh
    checkpoint, same store) must be skipped by the batch-id guard —
    count merge is not idempotent."""
    from chatdata_spark.operators.drift import fixed_bin_edges, hist_counts
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.incremental import stream_histogram_merge

    ind = str(tmp_path / "in")
    os.makedirs(ind)
    schema = "v double"
    edges = fixed_bin_edges(0.0, 100.0, 4)
    a = spark.range(0, 60).select(F.col("id").cast("double").alias("v"))
    b = spark.range(40, 100).select(F.col("id").cast("double").alias("v"))
    store = VersionedParquetStore(spark, str(tmp_path / "store"))

    a.coalesce(1).write.mode("append").parquet(ind)
    stream_histogram_merge(spark, ind, store, str(tmp_path / "ck"), "v", schema, edges)
    b.coalesce(1).write.mode("append").parquet(ind)
    stream_histogram_merge(spark, ind, store, str(tmp_path / "ck"), "v", schema, edges)

    want = {
        (r["bin"], r["n"])
        for r in hist_counts(a.union(b), "v", edges).collect()
    }
    got = {
        (r["bin"], r["n"]) for r in store.read().drop("last_batch").collect()
    }
    # union = 120 rows: 0-24 | 25-49 (25 + 10 overlap) | 50-74 (10 + 25) | 75-99
    assert got == want == {(0, 25), (1, 35), (2, 35), (3, 25)}

    v_before = store.current_version()
    stream_histogram_merge(spark, ind, store, str(tmp_path / "ck2"), "v", schema, edges)
    assert store.current_version() == v_before
    assert {
        (r["bin"], r["n"]) for r in store.read().drop("last_batch").collect()
    } == want


def test_stream_kmv_merge_incremental_and_replay_idempotent(spark, tmp_path):
    """Two drains must equal the batch bottom-k sketch of the UNION, the
    saturation flag must fire exactly when cumulative distinct exceeds k,
    and a full REPLAY (fresh checkpoint, same store) must be absorbed
    with the state VALUE unchanged — bottom-k-of-union + monotone OR is
    an idempotent lattice, so unlike CMS there is no batch-id guard to
    rely on."""
    from chatdata_spark.operators.sampling import hash_bucket
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.incremental import stream_kmv_merge

    ind = str(tmp_path / "in")
    os.makedirs(ind)
    schema = "g string, e bigint"
    # group 'big': 90 distinct elems (> k=8 -> saturated);
    # group 'small': 5 distinct (exact mode, flag stays false)
    a = spark.sql("SELECT 'big' AS g, id AS e FROM range(0, 60) "
                  "UNION ALL SELECT 'small', id FROM range(0, 5)")
    b = spark.sql("SELECT 'big' AS g, id AS e FROM range(40, 90)")
    store = VersionedParquetStore(spark, str(tmp_path / "store"))

    a.coalesce(1).write.mode("append").parquet(ind)
    stream_kmv_merge(spark, ind, store, str(tmp_path / "ck"), "g", "e", schema, k=8, salt="t")
    b.coalesce(1).write.mode("append").parquet(ind)
    stream_kmv_merge(spark, ind, store, str(tmp_path / "ck"), "g", "e", schema, k=8, salt="t")

    u = a.union(b)
    hashed = u.select("g", hash_bucket(F.col("e"), "t").alias("h")).distinct()
    want = {}
    for r in hashed.collect():
        want.setdefault(r.g, []).append(r.h)
    want = {g: sorted(hs)[:8] for g, hs in want.items()}
    got = {}
    sat = {}
    for r in store.read().collect():
        got.setdefault(r.g, []).append(r.h)
        sat[r.g] = r.sat
    assert {g: sorted(v) for g, v in got.items()} == want
    assert sat == {"big": True, "small": False}

    # replay everything: state value must be unchanged (idempotent merge)
    stream_kmv_merge(spark, ind, store, str(tmp_path / "ck2"), "g", "e", schema, k=8, salt="t")
    got2 = {}
    sat2 = {}
    for r in store.read().collect():
        got2.setdefault(r.g, []).append(r.h)
        sat2[r.g] = r.sat
    assert {g: sorted(v) for g, v in got2.items()} == want and sat2 == sat


_REPLAY_SCHEMA = "id bigint, g string, k bigint, x bigint, ts timestamp"


def _replay_wave(spark, lo: int, hi: int):
    """Rows ``lo..hi-1``: three groups ``g``, five entity keys ``k`` whose
    tracked ``g`` changes on every event, an integer value ``x`` and an
    event time that grows with ``id`` (SCD2 needs event-time order)."""
    import datetime

    t0 = datetime.datetime(2023, 1, 1)
    rows = [
        (i, "abc"[i % 3], i % 5, (i * 37) % 101, t0 + datetime.timedelta(minutes=i))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, _REPLAY_SCHEMA)


def _replay_states():
    """name -> (additive, drain(spark, in_dir, store, checkpoint_dir)) for the
    seven store states without a replay test of their own."""
    from chatdata_spark.streaming import incremental as inc

    s = _REPLAY_SCHEMA
    return {
        "upsert": (False, lambda sp, i, st, ck: inc.stream_upsert_into_store(sp, i, st, ["k"], "id", ck, s)),
        "quantile_sample": (False, lambda sp, i, st, ck: inc.stream_quantile_sample_merge(
            sp, i, st, ck, ["g"], "x", "id", s, k=4)),
        "mg": (True, lambda sp, i, st, ck: inc.stream_mg_merge(
            sp, i, st, ck, lambda b: b.select((F.col("x") % 7).cast("string").alias("item")), s, k=3)),
        "moments": (True, lambda sp, i, st, ck: inc.stream_moments_merge(
            sp, i, st, ck, ["g"], lambda b: F.col("x"), s)),
        "ols": (True, lambda sp, i, st, ck: inc.stream_ols_merge(
            sp, i, st, ck, ["g"], lambda b: (F.col("id"), F.col("x")), s)),
        "hll": (False, lambda sp, i, st, ck: inc.stream_hll_merge(sp, i, st, ck, ["g"], "x", s, p=4)),
        "scd2": (False, lambda sp, i, st, ck: inc.stream_scd2_merge(
            sp, i, st, ck, ["k"], "ts", ["g"], ["id"], s)),
    }


@pytest.mark.parametrize("state", sorted(_replay_states()))
def test_stream_store_replay_class(spark, tmp_path, state):
    """Two drains, then a replay of every file under a fresh checkpoint
    (foreachBatch re-delivers them all as batch 0). An ADDITIVE state must
    skip the replay on its batch-id guard, so the store version does not
    move; an IDEMPOTENT state applies it and must come out unchanged."""
    from chatdata_spark.stores.state import VersionedParquetStore

    additive, drain = _replay_states()[state]
    ind = str(tmp_path / "in")
    os.makedirs(ind)
    store = VersionedParquetStore(spark, str(tmp_path / "store"))

    def rows():
        return sorted(repr(sorted(r.asDict().items())) for r in store.read().collect())

    for lo, hi in ((0, 30), (30, 60)):
        _replay_wave(spark, lo, hi).coalesce(1).write.mode("append").parquet(ind)
        drain(spark, ind, store, str(tmp_path / "ck"))
    assert store.current_version() == 2
    before = rows()
    assert before

    drain(spark, ind, store, str(tmp_path / "ck2"))
    assert store.current_version() == (2 if additive else 3)
    assert rows() == before


def test_streaming_drains_only_in_drain_helpers():
    """Every availableNow trigger and foreachBatch sink in the package sits
    inside the drain helpers of streaming/incremental.py, so a hand-copied
    drain cannot creep back in."""
    import ast
    import pathlib

    import chatdata_spark

    root = pathlib.Path(chatdata_spark.__file__).parent
    helpers = {"_drain", "_drain_batches", "drain_to_parquet", "drain_merge"}
    found = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                attr = node.func.attr
                if attr == "foreachBatch" or (
                    attr == "trigger" and any(kw.arg == "availableNow" for kw in node.keywords)
                ):
                    where = getattr(top, "name", "<module>")
                    found.add((path.relative_to(root).as_posix(), where, attr))
    assert {attr for _, _, attr in found} == {"foreachBatch", "trigger"}
    stray = {f for f in found if f[0] != "streaming/incremental.py" or f[1] not in helpers}
    assert not stray, f"streaming drain outside the drain helpers: {sorted(stray)}"
