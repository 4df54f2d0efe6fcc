"""Structured-Streaming TTL semantics (SURVEY.md §7 M4): the strip as a
continuous pipeline must produce exactly the batch result."""

import shutil
import tempfile
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from cassandra_ttl_remover_spark import annotate_events, strip_ttl
from cassandra_ttl_remover_spark.streaming.ttl_stream import (
    read_events_stream,
    run_to_completion,
    stream_strip_ttl,
    track_ttl_state,
)

# two-tier suite (pytest.ini): every test here drains a real
# availableNow stream — seal-gate tier, not the per-commit gate
pytestmark = pytest.mark.slow


def test_stream_strip_matches_batch(spark, events):
    work = Path(tempfile.mkdtemp(prefix="ctrs_stream_"))
    src, out, ckpt = work / "src", work / "out", work / "ckpt"
    try:
        ann = annotate_events(events).limit(200)
        ann.write.parquet(str(src))
        batch = strip_ttl(spark.read.parquet(str(src)))

        stream = read_events_stream(
            spark, str(src), schema=batch.schema, max_files_per_trigger=2
        )
        run_to_completion(stream_strip_ttl(stream), str(out), str(ckpt))

        got = spark.read.parquet(str(out))
        assert got.count() == batch.count()
        assert got.filter(F.col("ttl").isNotNull()).count() == 0
        assert batch.select("event_id", "writetime").exceptAll(
            got.select("event_id", "writetime")
        ).count() == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stateful_ttl_tracking(spark, events):
    """applyInPandasWithState plumbing: per-key state snapshots must agree
    with a batch groupBy over the same input (single file -> one batch ->
    exactly one 'active' snapshot per key)."""
    work = Path(tempfile.mkdtemp(prefix="ctrs_state_"))
    src, ckpt = work / "src", work / "ckpt"
    try:
        src_df = events.select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        ).limit(500).coalesce(1)
        src_df.write.parquet(str(src))
        expected = {
            (r.user_id, r.n)
            for r in spark.read.parquet(str(src))
            .groupBy("user_id").agg(F.count("*").alias("n")).collect()
        }

        stream = read_events_stream(
            spark, str(src),
            schema="user_id bigint, ts timestamp", max_files_per_trigger=10,
        )
        tracked = track_ttl_state(stream, key_col="user_id", ts_col="ts",
                                  ttl_seconds=60)
        (
            tracked.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", str(ckpt))
            .format("memory").queryName("ttl_state")
            .start().awaitTermination()
        )
        got = spark.table("ttl_state").filter(F.col("status") == "active")
        snapshots = {(r.key, r.n_events) for r in got.collect()}
        assert snapshots == expected
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stream_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark path: duplicates in one batch collapse;
    state stays bounded by the watermark."""
    from cassandra_ttl_remover_spark.streaming.ttl_stream import stream_dedup

    work = Path(tempfile.mkdtemp(prefix="ctrs_sdedup_"))
    src, ckpt = work / "src", work / "ckpt"
    try:
        rows = [(i % 50, i % 7) for i in range(400)]  # heavy duplication
        df = spark.createDataFrame(rows, "user_id bigint, v bigint").withColumn(
            "ts", F.expr("timestamp_micros(1706000000000000 + user_id * 1000)")
        )
        df.coalesce(1).write.parquet(str(src))

        stream = read_events_stream(
            spark, str(src), schema="user_id bigint, v bigint, ts timestamp"
        )
        deduped = stream_dedup(stream, ["user_id", "v"], ts_col="ts")
        (
            deduped.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", str(ckpt))
            .format("memory").queryName("sdedup")
            .start().awaitTermination()
        )
        got = spark.table("sdedup")
        expected = spark.read.parquet(str(src)).dropDuplicates(["user_id", "v"]).count()
        assert got.count() == expected
        assert got.groupBy("user_id", "v").count().filter("count > 1").count() == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_scan_stream_matches_batch_scan(spark):
    """Batch/stream parity: the same files through scan_stream drain to
    bit-identical rows as the batch scan (incl. ns normalization)."""
    import uuid

    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        drain_to_table,
        scan_stream,
    )
    from tests.conftest import SF_DIR

    st = scan_stream(spark, SF_DIR, glob="events.parquet")
    got = drain_to_table(st, f"t_{uuid.uuid4().hex[:8]}")
    batch = scan_table(spark, SF_DIR, "events")
    assert got.schema == batch.schema
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_murmur3_oracle_expr_matches_spark_hash(spark):
    import duckdb
    import pyspark.sql.functions as F

    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    vals = [0, 1, -1, 42, 2**33 + 7, -(2**40) - 123, 999999999999]
    sdf = spark.createDataFrame([(v,) for v in vals], "x long")
    expected = {r.x: r.h for r in sdf.select("x", F.hash("x").alias("h")).collect()}
    con = duckdb.connect()
    e = murmur3_hash_oracle_expr("x")
    for v in vals:
        got_u = con.sql(f"SELECT {e} AS h FROM (SELECT {v}::BIGINT AS x)").fetchone()[0]
        got = got_u - (1 << 32) if got_u >= (1 << 31) else got_u
        assert got == expected[v], f"murmur3 mismatch for {v}"


def test_stream_sessionize_matches_batch(spark, tmp_path):
    import uuid

    import pyspark.sql.functions as F

    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.operators import sessions
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        drain_to_table,
        scan_stream,
        stream_sessionize,
    )
    from tests.conftest import SF_DIR

    sf = SF_DIR
    st = scan_stream(spark, sf, glob="events.parquet", ns_to="timestamp")
    drained = drain_to_table(
        stream_sessionize(st, gap="1 hour"),
        f"sess_{uuid.uuid4().hex[:8]}", "complete",
    ).cache()
    ev = scan_table(spark, sf, "events")
    batch = (
        sessions.sessionize(ev, 3600)
        .groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n_events"),
             F.min("ts_us").alias("start_us"),
             (F.max("ts_us") + 3_600_000_000).alias("end_us"))
    )
    a = drained.select(
        F.expr("unix_micros(cast(session_start as timestamp))").alias("start_us"),
        F.expr("unix_micros(cast(session_end as timestamp))").alias("end_us"),
        "user_id", "n_events",
    )
    b = batch.select("start_us", "end_us", "user_id", F.col("n_events").cast("long"))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_curate_gate_matches_batch(spark):
    import uuid

    import pyspark.sql.functions as F

    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.operators import text as text_ops
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        drain_to_table,
        scan_stream,
        stream_curate_gate,
    )
    from tests.conftest import SF_DIR

    st = scan_stream(spark, SF_DIR, glob="documents.parquet")
    drained = drain_to_table(
        stream_curate_gate(st), f"cur_{uuid.uuid4().hex[:8]}", "append"
    )
    docs = scan_table(spark, SF_DIR, "documents")
    batch = text_ops.lang_id(
        spark,
        text_ops.quality_score(docs, keep_cols=["text"]),
        keep_cols=["quality"],
    ).filter(
        (F.col("quality") >= 0.5) & (F.col("pred_lang") == "en")
    ).select("doc_id", "pred_lang", "quality")
    assert drained.count() == batch.count()
    assert drained.exceptAll(batch).count() == 0


def test_stream_upsert_lww_incremental_equals_batch(spark, tmp_path):
    from cassandra_ttl_remover_spark.operators.compact import merge_runs_lww
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        scan_stream,
        stream_upsert_lww,
    )

    # 12 versions of 4 keys spread over 6 input files, 2 per micro-batch
    rows = [(i % 4, 100 + i, i) for i in range(12)]  # (k, writetime, payload)
    src = spark.createDataFrame(rows, "k long, writetime long, payload long")
    src.repartition(6).write.parquet(str(tmp_path / "in"))

    st = scan_stream(spark, str(tmp_path / "in"), max_files_per_trigger=2)
    out = stream_upsert_lww(
        st, ["k"], table_dir=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {(r.k, r.writetime, r.payload) for r in out.collect()}
    want = {(r.k, r.writetime, r.payload)
            for r in merge_runs_lww([src], keys=["k"]).collect()}
    assert got == want  # batch-split independence of the LWW merge
    # versioned lifecycle: multiple batches ran, old versions pruned to 2
    versions = [p.name for p in (tmp_path / "table").iterdir()
                if p.is_dir() and p.name.startswith("v")]
    assert len(versions) == 2
    assert (tmp_path / "table" / "LATEST").read_text() == max(versions)


def test_versioned_sink_replay_guard(tmp_path):
    # foreachBatch is at-least-once: if the process dies after the pointer
    # swap but before the checkpoint commits, the same batch_id is
    # re-delivered — by then LATEST names the batch's own output, and
    # re-merging would read the directory being overwritten. The guard
    # must skip exactly the already-applied batch ids (the same
    # skip-committed-batch rule Spark's FileStreamSink metadata log
    # implements).
    from cassandra_ttl_remover_spark.streaming.ttl_stream import _already_applied

    ptr = tmp_path / "LATEST"
    assert not _already_applied(ptr, "v0000000000")  # fresh table: apply
    ptr.write_text("v0000000003\n")
    assert _already_applied(ptr, "v0000000003")      # crash replay: skip
    assert _already_applied(ptr, "v0000000002")      # older replay: skip
    assert not _already_applied(ptr, "v0000000004")  # next batch: apply


def test_read_table_version_time_travel(spark, tmp_path):
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        read_table_version,
        scan_stream,
        stream_upsert_lww,
    )

    rows = [(i % 3, 10 + i, i) for i in range(9)]
    src = spark.createDataFrame(rows, "k long, writetime long, payload long")
    src.repartition(4).write.parquet(str(tmp_path / "in"))
    latest = stream_upsert_lww(
        scan_stream(spark, str(tmp_path / "in"), max_files_per_trigger=2),
        ["k"], table_dir=str(tmp_path / "t"), checkpoint_dir=str(tmp_path / "c"),
    )
    versions = sorted(p.name for p in (tmp_path / "t").iterdir()
                      if p.is_dir() and p.name.startswith("v"))
    assert len(versions) == 2  # retention bound
    cur = read_table_version(spark, str(tmp_path / "t"))
    assert {tuple(r) for r in cur.collect()} == {tuple(r) for r in latest.collect()}
    prev = read_table_version(spark, str(tmp_path / "t"), versions[0])
    assert prev.count() <= cur.count()
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError, match="not retained"):
        read_table_version(spark, str(tmp_path / "t"), "v0000000099")


def test_funnel_flags_subsequence_semantics(spark):
    from cassandra_ttl_remover_spark.operators.sessions import funnel_flags
    import pytest as _pytest

    rows = [
        # user 1: view .. click .. purchase in order (with noise) -> reached
        (1, 1, 10, "view"), (1, 2, 20, "error"), (1, 3, 30, "click"),
        (1, 4, 40, "signup"), (1, 5, 50, "purchase"),
        # user 2: purchase BEFORE the view/click -> not reached
        (2, 6, 10, "purchase"), (2, 7, 20, "view"), (2, 8, 30, "click"),
        # user 3: missing the click -> not reached
        (3, 9, 10, "view"), (3, 10, 20, "purchase"),
    ]
    import pyspark.sql.functions as F
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, t long, event_type string"
    ).withColumn("ts", F.expr("timestamp_micros(t * 1000000)"))
    out = {r.user_id: r.reached
           for r in funnel_flags(ev, ["view", "click", "purchase"]).collect()}
    assert out == {1: True, 2: False, 3: False}
    # commas in step names are LEGAL since the match delimiter moved to
    # the unit separator; only a step containing U+001F itself is rejected
    assert funnel_flags(ev, ["view", "a,b"]).count() == 3
    with _pytest.raises(ValueError, match="delimiter"):
        funnel_flags(ev, ["view", "a\x1fb"])


def test_funnel_flags_whole_token_matching(spark):
    # an unrelated event type containing a step as a substring ('preview'
    # vs 'view') must NOT satisfy the funnel; substring steps themselves
    # are legal under delimited-token matching
    from cassandra_ttl_remover_spark.operators.sessions import funnel_flags
    import pyspark.sql.functions as F

    rows = [
        # user 1: preview .. click — 'view' never actually happened
        (1, 1, 10, "preview"), (1, 2, 20, "click"),
        # user 2: real view then click -> reached
        (2, 3, 10, "view"), (2, 4, 20, "click"),
        # user 3: steps that are substrings of each other, in order
        (3, 5, 10, "view"), (3, 6, 20, "view_extra"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, t long, event_type string"
    ).withColumn("ts", F.expr("timestamp_micros(t * 1000000)"))
    out = {r.user_id: r.reached
           for r in funnel_flags(ev, ["view", "click"]).collect()}
    assert out == {1: False, 2: True, 3: False}
    out2 = {r.user_id: r.reached
            for r in funnel_flags(ev, ["view", "view_extra"]).collect()}
    assert out2 == {1: False, 2: False, 3: True}


def test_stream_apply_changes_tombstones_block_resurrection(spark, tmp_path):
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        read_table_version,
        scan_stream,
        stream_apply_changes,
    )

    # file 1: delete of key 1 at t=30; file 2: LATE older update at t=20.
    # With maxFilesPerTrigger=1 the delete lands in an earlier batch; if
    # the store dropped tombstones, the late update would resurrect key 1.
    f1 = [(1, 30, None, "D"), (2, 10, "b", "U")]
    f2 = [(1, 20, "late", "U"), (3, 10, "c", "I")]
    schema = "k long, writetime long, v string, op string"
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(
        str(tmp_path / "in"))
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(
        str(tmp_path / "in"))
    st = scan_stream(spark, str(tmp_path / "in"), max_files_per_trigger=1)
    live = stream_apply_changes(
        st, ["k"], table_dir=str(tmp_path / "t"),
        checkpoint_dir=str(tmp_path / "c"),
    )
    got = {(r.k): (r.writetime, r.v) for r in live.collect()}
    assert got == {2: (10, "b"), 3: (10, "c")}  # key 1 stays dead
    # the STORED table retains the tombstone that blocked resurrection
    stored = read_table_version(spark, str(tmp_path / "t"))
    tomb = stored.filter("k = 1").collect()
    assert len(tomb) == 1 and tomb[0]["op"] == "D" and tomb[0]["writetime"] == 30


def test_stream_interval_join_matches_batch(spark, tmp_path):
    # stream-stream interval join == the equivalent batch self-join
    import pyspark.sql.functions as F

    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        drain_to_table,
        scan_stream,
        stream_interval_join,
    )

    rows = [
        # (user, id, minute, type) — clicks at various lags after views
        (1, 1, 0, "view"), (1, 2, 30, "click"),    # within 1h -> match
        (1, 3, 120, "click"),                      # 2h after -> no match
        (2, 4, 0, "view"), (2, 5, 50, "view"),
        (2, 6, 55, "click"),                       # matches BOTH views
        (3, 7, 10, "click"),                       # click with no view
    ]
    # base far from epoch: event times within the watermark delay of
    # 1970-01-01 are treated as late against the initial watermark (0) and
    # silently dropped — an artifact no real event time hits
    src = spark.createDataFrame(
        rows, "user_id long, event_id long, m long, event_type string"
    ).withColumn(
        "ts", F.expr("timestamp_micros(1706000000000000 + m * 60000000)")
    )
    src.write.parquet(str(tmp_path / "ev"))

    def side(ts_name, id_name, etype):
        return (
            scan_stream(spark, str(tmp_path / "ev"), ns_to="timestamp")
            .filter(F.col("event_type") == etype)
            .select("user_id", F.col("event_id").alias(id_name),
                    F.col("ts").alias(ts_name))
        )

    joined = stream_interval_join(
        side("v_ts", "v_id", "view"), side("c_ts", "c_id", "click"),
        key="user_id", left_ts="v_ts", right_ts="c_ts",
        max_lag="1 hour", watermark="2 hours",
    )
    got = {(r.user_id, r.v_id, r.c_id)
           for r in drain_to_table(joined, "st_ij_test").collect()}
    assert got == {(1, 1, 2), (2, 4, 6), (2, 5, 6)}


def test_stream_enrich_matches_batch_join(spark):
    """Stream-static broadcast enrichment equals the batch join, and the
    plan carries no stateful operator (stateless per micro-batch)."""
    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        drain_to_table,
        scan_stream,
        stream_enrich,
    )
    from tests.conftest import SF_DIR

    dim = (
        scan_table(spark, SF_DIR, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    st = scan_stream(spark, SF_DIR, glob="events.parquet")
    got = (
        drain_to_table(stream_enrich(st, dim, "user_id"), "st_enrich_test")
        .groupBy("c_nationkey").count().collect()
    )
    want = (
        scan_table(spark, SF_DIR, "events")
        .join(dim, "user_id")
        .groupBy("c_nationkey").count().collect()
    )
    assert {(r.c_nationkey, r["count"]) for r in got} == \
           {(r.c_nationkey, r["count"]) for r in want}


def test_stream_ttl_debt_census_equals_batch(spark, tmp_path):
    """Complete-mode kind census over arriving SSTable shards lands on
    exactly the batch census of the same directory."""
    import uuid

    from cassandra_ttl_remover_spark.sources import sstable as ss
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        drain_to_table,
    )

    import struct

    src = str(tmp_path / "src")
    ss.write_sstable(
        [(b"u1", [(b"c1", ss.EXPIRATION_MASK, 60, 100, 5, b"v"),
                  (b"c2", 0, 0, 0, 6, b"w")]),
         (b"u2", [(b"c1", ss.DELETION_MASK, 0, 0, 7,
                   struct.pack(">i", 50))])],
        src)
    shards = str(tmp_path / "shards")
    ss.write_sstable_distributed(ss.scan_sstable(spark, src), shards,
                                 shards=2)
    census = (
        ss.stream_sstable(spark, shards)
        .groupBy("kind")
        .agg(F.count("*").cast("long").alias("n_cells"))
    )
    got = sorted(
        (r.kind, r.n_cells)
        for r in drain_to_table(
            census, f"dbg_{uuid.uuid4().hex[:8]}", "complete"
        ).collect()
    )
    want = sorted(
        (r.kind, r.n_cells)
        for r in ss.scan_sstable(spark, shards).groupBy("kind")
        .agg(F.count("*").cast("long").alias("n_cells")).collect()
    )
    assert got == want == [("expiring", 1), ("normal", 1),
                           ("tombstone", 1)]


def test_stream_ivf_ingest_lands_and_composes_with_deletes(spark, tmp_path):
    """Streaming index ingest: stream-appended vectors are queryable
    (full probe == the whole corpus), and the lifecycle composes —
    delete a streamed-in id, query hides it, compact purges it."""
    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.operators.similarity import (
        ivf_compact,
        ivf_delete,
        ivf_query,
        ivf_write,
    )
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        scan_stream,
        stream_ivf_ingest,
    )
    from tests.conftest import SF_DIR

    emb = scan_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf")
    ivf_write(emb.filter("vec_id % 2 = 0"), path, n_cells=4)
    st = scan_stream(spark, SF_DIR, glob="embeddings.parquet").filter(
        F.col("vec_id") % 2 != 0)
    stream_ivf_ingest(st, path, str(tmp_path / "ckpt"))
    assert spark.read.parquet(path).count() == emb.count()

    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    full = ivf_query(spark, path, qv, k=10, nprobe=4).collect()
    # a streamed-in (odd) id that ranked: delete it, the query hides it
    odd = next((r.vec_id for r in full if r.vec_id % 2 != 0), None)
    if odd is not None:
        ivf_delete(spark, path, [int(odd)])
        got = ivf_query(spark, path, qv, k=10, nprobe=4).collect()
        assert all(r.vec_id != odd for r in got)
        ivf_compact(spark, path)
        assert spark.read.parquet(path).count() == emb.count() - 1


def test_stream_lm_gate_matches_batch_keep_set(spark, tmp_path):
    """The streamed LM gate's survivor set must equal the batch rule
    (ppl <= t2) exactly — lm_score is per-doc independent, so micro-
    batching cannot change any score; unscorable docs are dropped."""
    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.operators.curate import (
        lm_model,
        lm_score,
        lm_tertile_cuts,
    )
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        scan_stream,
        stream_lm_gate,
    )

    sf = "/root/testdata/sf0.001"
    docs = scan_table(spark, sf, "documents")
    model = lm_model(docs.filter("lang = 'en'"))
    scores = lm_score(docs, model)
    t2 = int(lm_tertile_cuts(scores).collect()[0].t2)

    out = str(tmp_path / "kept")
    stream_lm_gate(
        scan_stream(spark, sf, glob="documents.parquet"), model,
        out, str(tmp_path / "ckpt"), threshold=t2)
    got = sorted(
        (r.doc_id, r.n_bigrams, r.sum_invp, r.ppl_permille)
        for r in spark.read.parquet(out).collect())
    want = sorted(
        (r.doc_id, r.n_bigrams, r.sum_invp, r.ppl_permille)
        for r in scores.filter(F.col("ppl_permille") <= t2).collect())
    assert got == want and 0 < len(got) < docs.count()


def test_stream_lm_gate_order3_matches_batch(spark, tmp_path):
    """The trigram (stupid-backoff) edition of the streaming gate: same
    per-doc-independence argument, smoothing="sbo" path."""
    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.operators.curate import (
        lm_tertile_cuts,
        sbo_model,
        sbo_score,
    )
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        scan_stream,
        stream_lm_gate,
    )

    sf = "/root/testdata/sf0.001"
    docs = scan_table(spark, sf, "documents")
    model = sbo_model(docs.filter("lang = 'en'"))
    scores = sbo_score(docs, model)
    t2 = int(lm_tertile_cuts(scores, "sbo_permille").collect()[0].t2)

    out = str(tmp_path / "kept")
    stream_lm_gate(
        scan_stream(spark, sf, glob="documents.parquet"), model,
        out, str(tmp_path / "ckpt"), threshold=t2, smoothing="sbo")
    got = sorted((r.doc_id, r.sum_invp, r.sbo_permille)
                 for r in spark.read.parquet(out).collect())
    want = sorted((r.doc_id, r.sum_invp, r.sbo_permille)
                  for r in scores.filter(
                      F.col("sbo_permille") <= t2).collect())
    assert got == want and 0 < len(got) < docs.count()


def test_stream_lm_gate_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch must not duplicate survivor rows: each
    batch lands as its own b=<batch_id> directory written with
    OVERWRITE, so re-running the whole drain against a FRESH checkpoint
    (every batch replays) leaves the survivor set identical — the crash
    -between-write-and-commit window rewrites, never appends."""
    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.operators.curate import (
        lm_model,
        lm_score,
        lm_tertile_cuts,
    )
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        scan_stream,
        stream_lm_gate,
    )

    sf = "/root/testdata/sf0.001"
    docs = scan_table(spark, sf, "documents")
    model = lm_model(docs.filter("lang = 'en'"))
    t2 = int(lm_tertile_cuts(lm_score(docs, model)).collect()[0].t2)

    out = str(tmp_path / "kept")
    stream_lm_gate(
        scan_stream(spark, sf, glob="documents.parquet"), model,
        out, str(tmp_path / "ckpt1"), threshold=t2)
    first = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    # full replay: same sink, fresh checkpoint -> every batch re-fires
    stream_lm_gate(
        scan_stream(spark, sf, glob="documents.parquet"), model,
        out, str(tmp_path / "ckpt2"), threshold=t2)
    second = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert second == first, "replay duplicated survivor rows"
    assert len(set(first)) == len(first)


def test_stream_lm_gate_mkn_matches_batch(spark, tmp_path):
    """The modified-KN edition of the streaming gate: smoothing="mkn"
    over the same bigram lm_model artifact; per-doc independence makes
    the streamed survivor set equal the batch rule exactly."""
    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.operators.curate import (
        lm_model,
        lm_tertile_cuts,
        mkn_score,
    )
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        scan_stream,
        stream_lm_gate,
    )

    sf = "/root/testdata/sf0.001"
    docs = scan_table(spark, sf, "documents")
    model = lm_model(docs.filter("lang = 'en'"))
    scores = mkn_score(docs, model)
    t2 = int(lm_tertile_cuts(scores, "mkn_permille").collect()[0].t2)

    out = str(tmp_path / "kept")
    stream_lm_gate(
        scan_stream(spark, sf, glob="documents.parquet"), model,
        out, str(tmp_path / "ckpt"), threshold=t2, smoothing="mkn")
    got = sorted((r.doc_id, r.sum_invp, r.mkn_permille)
                 for r in spark.read.parquet(out).collect())
    want = sorted((r.doc_id, r.sum_invp, r.mkn_permille)
                  for r in scores.filter(
                      F.col("mkn_permille") <= t2).collect())
    assert got == want and 0 < len(got) < docs.count()


def test_stream_lm_gate_rejects_bad_dispatch(spark):
    import pytest as _pytest

    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        stream_lm_gate,
    )

    with _pytest.raises(ValueError, match="unsupported"):
        stream_lm_gate(None, None, "x", "y", threshold=0, smoothing="wb")
