"""Streaming TTL semantics (SURVEY.md §7 M4).

The reference's TTL model is an event-time expiry (a cell with
localExpirationTime simply stops being visible — NoTTLColumnSerializer.java:
33-39); its batch job is a bounded rewrite. Structured Streaming expresses
the same semantics continuously:

  * `stream_strip_ttl` — the rewrite as an always-on pipeline: readStream
    over arriving files, the same strip projection (operators/liveness.py),
    append-mode sink. Identical per-row semantics to the batch path — the
    transform is a pure projection so batch/stream parity is by construction.
  * `expiring_counts` — watermarked sliding-window counts of soon-to-expire
    data (the operational dashboard the reference's users run the tool for).
  * `track_ttl_state` — the custom stateful operator: per-key liveness state
    with an event-time timeout via `applyInPandasWithState`, emitting an
    'expired' record when a key stops receiving writes for its TTL — the
    streaming-native realization of the reference's expiry semantics (a cell
    whose localExpirationTime passes stops being visible).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cassandra_ttl_remover_spark.operators.liveness import strip_ttl


def read_events_stream(spark: SparkSession, path: str,
                       schema: T.StructType,
                       max_files_per_trigger: int = 16) -> DataFrame:
    """File-arrival stream over a directory of event parquet. Throttled by
    maxFilesPerTrigger — the streaming analog of the reference's RateLimiter
    (NoTTLScanner.java:55, SURVEY.md §2.1 M6)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def scan_stream(spark: SparkSession, path: str, *, glob: str | None = None,
                ns_to: str = "timestamp_ntz",
                max_files_per_trigger: int = 16) -> DataFrame:
    """Streaming counterpart of sources.scan: self-configures
    TIMESTAMP(NANOS) ingestion (nanosAsLong at runtime), derives the
    declared schema from the parquet footers (streaming sources require an
    explicit schema), and normalizes ns columns with the same exact
    projection as the batch scan — so a streaming pipeline sees
    bit-identical rows to the batch pipeline over the same files.

    ``path`` must be a DIRECTORY (file-source streams watch directories);
    restrict to specific files with ``glob``. ``ns_to='timestamp'`` yields
    TimestampType instead of ntz — required when the column feeds a
    watermark (Spark event time must be TIMESTAMP). That conversion applies
    both to ns-long columns being normalized and to columns the source
    already surfaces as TIMESTAMP_NTZ (µs-precision footers): the ntz wall
    clock is reinterpreted in the session timezone, an identity under the
    engine's UTC-pinned sessions."""
    from cassandra_ttl_remover_spark.sources.scan import (
        _NANOS_AS_LONG,
        _probe_ns_timestamp_cols,
    )

    ns_cols = _probe_ns_timestamp_cols(path, glob=glob, recursive=False)
    if ns_cols:
        spark.conf.set(_NANOS_AS_LONG, "true")
    batch = spark.read
    reader = spark.readStream
    if glob:
        batch = batch.option("pathGlobFilter", glob)
        reader = reader.option("pathGlobFilter", glob)
    schema = batch.parquet(path).schema
    df = (
        reader.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    for c in ns_cols:
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(
                c, F.expr(f"cast(timestamp_micros(`{c}` div 1000) as {ns_to})")
            )
    if ns_to == "timestamp":
        # watermark eligibility for µs sources: TIMESTAMP_NTZ columns can't
        # carry event time, so surface them as TIMESTAMP (UTC sessions make
        # this a pure type change, not a value change)
        for field in df.schema.fields:
            if isinstance(field.dataType, T.TimestampNTZType):
                df = df.withColumn(
                    field.name, F.col(field.name).cast("timestamp")
                )
    return df


def drain_to_table(stream_df: DataFrame, name: str,
                   output_mode: str = "append") -> DataFrame:
    """Drain all currently-available input (availableNow trigger) into an
    in-memory table and return it as a batch DataFrame — the bridge that
    lets streaming pipelines be checked by the same batch/SQL oracles as
    everything else. Driver-memory sink: use only on bounded test/verify
    volumes; production drains go through run_to_completion (parquet)."""
    spark = stream_df.sparkSession
    (
        stream_df.writeStream.trigger(availableNow=True)
        .outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
        .awaitTermination()
    )
    return spark.table(name)


def stream_strip_ttl(events: DataFrame) -> DataFrame:
    """The TTL strip as a streaming transformation (stateless projection —
    exactly-once under the file sink's commit protocol)."""
    return strip_ttl(events)


def expiring_counts(events: DataFrame, ts_col: str = "ts",
                    window: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Watermarked windowed count of rows carrying a TTL — late data beyond
    the watermark is dropped, state is bounded (the scale requirement for an
    always-on 100 TB ingest)."""
    return (
        events.withWatermark(ts_col, watermark)
        .filter(F.col("ttl").isNotNull())
        .groupBy(F.window(F.col(ts_col), window))
        .agg(F.count("*").alias("n_expiring"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_expiring",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], ts_col: str = "ts",
                 watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within the
    watermark window (dropDuplicatesWithinWatermark — state is purged once
    the watermark passes, so memory stays bounded on an unbounded stream;
    the streaming counterpart of operators/dedup.exact_dedup)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def track_ttl_state(events: DataFrame, key_col: str = "user_id",
                    ts_col: str = "ts", ttl_seconds: int = 1800,
                    watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-key liveness
    with an event-time TTL.

    For every key the state holds ``(n_events, last_write_us)``; each batch
    of arrivals refreshes it and emits an 'active' snapshot; when the
    watermark passes ``last_write + ttl`` the state times out, the key emits
    one 'expired' record, and its state is dropped — bounded state, the
    streaming analog of a cell's localExpirationTime passing.

    Scale: state is shuffled by key (one shuffle), held in the state store,
    and strictly bounded by the timeout — no unbounded growth on a 100 TB/day
    ingest. Arrow batches carry the groups (Pandas-UDF path, not row-at-a-time).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("key", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("last_write_us", T.LongType()),
        T.StructField("status", T.StringType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ])

    def fn(key: tuple, pdfs, state: GroupState):
        (k,) = key
        if state.hasTimedOut:
            n, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {"key": [k], "n_events": [n], "last_write_us": [last_us],
                 "status": ["expired"]}
            )
            return
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            batch_max_ns = int(pdf[ts_col].astype("int64").max())
            last_us = max(last_us, batch_max_ns // 1000)
        state.update((n, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + ttl_seconds * 1000)
        yield pd.DataFrame(
            {"key": [k], "n_events": [n], "last_write_us": [last_us],
             "status": ["active"]}
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_to_completion(stream_df: DataFrame, out_dir: str, checkpoint: str) -> None:
    """Drain all currently-available input (availableNow trigger) into a
    parquet sink — used by tests and backfills; the production call is the
    same minus availableNow."""
    (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", out_dir)
        .start()
        .awaitTermination()
    )


def stream_sessionize(events: DataFrame, gap: str = "1 hour",
                      user_col: str = "user_id", ts_col: str = "ts",
                      watermark: str = "2 hours") -> DataFrame:
    """Session-window aggregation — the streaming counterpart of
    operators/sessions.sessionize: a per-user session closes after ``gap``
    of inactivity; emits (session_start, session_end, user, n_events) with
    ``session_end = last event + gap`` (Spark's session_window contract).
    Watermarked so session state is purged once no late event can extend it
    — bounded state on an unbounded stream. Batch-checkable: the gap rule
    is exactly the lag-split in operators/sessions.py, so a DuckDB oracle
    over the drained table verifies counts and boundaries."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col(user_col),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


def stream_curate_gate(docs: DataFrame, *, min_quality: float = 0.5,
                       langs: tuple[str, ...] = ("en",),
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """The curation pipeline's gate stages on a STREAM: quality score +
    language ID are stateless per-row projections (operators/text.py), so
    they lift to Structured Streaming unchanged — an always-on ingest can
    drop low-quality / wrong-language documents before anything lands.
    (The dedup stages stay batch: content-hash state over an unbounded
    corpus belongs to the bounded-watermark variant, stream_dedup.)
    Emits ``(id_col, pred_lang, quality)`` for survivors, matching the
    batch curate_corpus gate exactly."""
    import pyspark.sql.functions as FF

    from cassandra_ttl_remover_spark.operators import text as text_ops

    scored = text_ops.lang_id(
        docs.sparkSession,
        text_ops.quality_score(docs, text_col, id_col, keep_cols=[text_col]),
        text_col,
        id_col,
        keep_cols=["quality"],
    )
    return scored.filter(
        (FF.col("quality") >= min_quality) & FF.col("pred_lang").isin(*langs)
    ).select(id_col, "pred_lang", "quality")


def stream_model_gate(docs_stream: DataFrame, weights: dict[int, int],
                      dim: int = 64, *, threshold: int = 0,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Model-based quality gate on a STREAM: score arriving documents
    with a batch-trained logistic-regression weight map
    (classify.logreg_train -> collect_weights) and keep those at or
    above the margin threshold — the FineWeb-Edu-style classifier
    filter running continuously at ingest. The model rides INSIDE the
    projection (classify.margin_score_expr inlines the <= dim+1 weights
    as a map literal), so the scorer is a stateless per-row HOF — no
    stream-static join, no state store, no watermark; identical margins
    to the batch/training computation by construction.

    Scale: scan-speed stateless projection per micro-batch; model
    updates are a query restart with a new literal (weights are a
    training artifact, not per-record state)."""
    from cassandra_ttl_remover_spark.operators import classify

    return classify.score_documents(
        docs_stream, weights, dim, threshold=threshold,
        text_col=text_col, id_col=id_col)


def stream_ivf_ingest(emb_stream: DataFrame, path: str,
                      checkpoint_dir: str, *,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> None:
    """Continuous vector-index ingest: every micro-batch of embeddings
    is assigned against the index's FROZEN centroids and appended to
    its cell partitions (similarity.ivf_append per batch via
    foreachBatch) — the streaming leg of the index lifecycle whose
    other legs are ivf_delete (tombstones), ivf_compact (gc) and
    ivf_query (pruned probes). The index must already exist
    (ivf_write); availableNow drains bounded backfills, the same call
    without the trigger change runs forever.

    Exactly-once stance: ivf_append is an idempotent-per-content
    parquet append only under Spark's checkpointed micro-batch replay —
    a REPLAYED batch appends duplicate rows. For at-least-once sources
    route ids through ivf_delete-style reconciliation or dedupe at
    query time; the checkpoint makes replays rare, not impossible
    (documented, not hidden).

    Scale: each batch shuffles only itself (centroids broadcast);
    the 100 TB index absorbs a continuous feed at the cost of the feed.
    """
    from cassandra_ttl_remover_spark.operators.similarity import ivf_append

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_append(batch_df.sparkSession, path, batch_df,
                   vec_col=vec_col, id_col=id_col)

    (
        emb_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_lm_gate(docs_stream: DataFrame, model: DataFrame,
                   out_path: str, checkpoint_dir: str, *,
                   threshold: int, smoothing: str = "add1",
                   buckets: int = 4096,
                   scale: int = 1000, text_col: str = "text",
                   id_col: str = "doc_id") -> None:
    """CCNet's LM fluency gate on a STREAM: score each arriving
    micro-batch against a batch-trained bigram LM (curate.lm_model) and
    append the documents at or under the perplexity ``threshold``
    (CCNet keeps head+middle: threshold = t2 from curate.lm_tertile_cuts,
    calibrated batch-side like stream_model_gate's margin) to a parquet
    sink. Unscorable docs (< 2 tokens) are dropped, as the paper drops
    them.

    Unlike the logreg gate (whose <= dim+1 weights inline as a map
    literal), the LM artifact is a pair HISTOGRAM — up to buckets^2
    rows, too wide for an expression literal — so the gate runs through
    foreachBatch: each micro-batch is scored by the exact batch scorer
    (curate.lm_score, per-doc independent, so batch/stream results are
    identical by construction) against the static checkpointed model.

    Scale: per batch, one bigram explode + a join against the static
    model (AQE broadcasts the occupied pairs when small) + a batch-local
    doc-id reduce; no state store, no watermark — the model is a
    training artifact, refreshed by query restart.

    Exactly-once stance — STRONGER than stream_ivf_ingest's: each
    micro-batch lands as its own ``b=<batch_id>`` partition directory
    written with OVERWRITE, so a batch replayed after a crash between
    the write and the checkpoint commit rewrites its own directory
    instead of appending duplicates (Structured Streaming replays the
    same content under the same batch_id, making the overwrite
    idempotent). Readers of ``out_path`` see the layout as a ``b``
    partition column — drop or ignore it; it is the idempotence key,
    not data.

    ``smoothing`` names the scheme in curate.LM_SCHEMES, which fixes
    the n-gram order and the score column: ``"add1"`` (curate.lm_score,
    ``ppl_permille``), ``"kn"`` (curate.kn_score, ``kn_permille``) and
    ``"mkn"`` (curate.mkn_score, ``mkn_permille``) score against the
    bigram curate.lm_model histogram; ``"sbo"`` (curate.sbo_score,
    stupid backoff, ``sbo_permille``) against the trigram
    curate.sbo_model one. ``model`` must be the histogram its scheme
    trains; an unknown name raises ValueError."""
    from cassandra_ttl_remover_spark.operators.curate import LM_SCHEMES

    if smoothing not in LM_SCHEMES:
        raise ValueError(f"unsupported smoothing {smoothing!r}; "
                         f"supported: {sorted(LM_SCHEMES)}")
    scheme = LM_SCHEMES[smoothing]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            scheme.score(batch_df, model, text_col, id_col, buckets, scale)
            .filter(F.col(scheme.out) <= threshold)
            .write.mode("overwrite").parquet(f"{out_path}/b={batch_id}")
        )

    (
        docs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_dedup_against_corpus(docs_stream: DataFrame, corpus: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id") -> DataFrame:
    """Incremental-ingest dedup on a STREAM: drop arriving documents whose
    content digest already exists in the immutable static corpus — the
    stream-static LEFT ANTI join (stateless: no watermark, no state store;
    the static side is re-broadcastable per micro-batch). This is the
    continuous form of dedup.dedup_against_corpus's exact stage; the fuzzy
    (SimHash) stage stays batch — cross-frame band joins need the whole
    band index, which a micro-batch by definition lacks.

    Scale: only 16-byte digests of the corpus participate; the stream side
    computes its digest as a stateless projection.
    """
    digests = corpus.select(F.md5(F.col(text_col)).alias("_digest")).distinct()
    return (
        docs_stream.withColumn("_digest", F.md5(F.col(text_col)))
        .join(digests, "_digest", "left_anti")
        .drop("_digest")
    )


def stream_interval_join(left: DataFrame, right: DataFrame, *, key: str,
                         left_ts: str, right_ts: str,
                         max_lag: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Stream-STREAM inner join within a time interval — the attribution
    shape (every right event matched to the left events it followed within
    ``max_lag``, per ``key``): view→click, impression→conversion, etc. The
    one Structured Streaming join mode the rest of this module doesn't
    exercise (the corpus dedup join is stream-static).

    Both sides are watermarked on their own event-time column and the join
    condition carries the time-range predicate — the two things Spark
    requires to bound join state: a side's buffered rows are evicted once
    the other side's watermark passes beyond ``max_lag`` reach. Without the
    range condition state grows unboundedly on an unbounded stream; with
    it, state per key is O(events within watermark + lag).

    Inner-join matches emit as found (append mode); the watermark governs
    only state eviction, not result latency.

    Scale: state is hash-partitioned by ``key`` like any keyed stateful op;
    a hot key's in-window history lives on one partition — same per-entity
    bound and salting escape hatch as sessionize.

    Quirk worth knowing: event times within ``watermark`` of the epoch are
    late against the INITIAL watermark (0) and silently dropped — only
    synthetic 1970-adjacent test data can hit this."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"interval {max_lag}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def stream_enrich(stream_df: DataFrame, dim: DataFrame, on,
                  how: str = "inner", *, broadcast: bool = True) -> DataFrame:
    """Stream-STATIC enrichment join: every micro-batch of the unbounded
    fact stream joined to a bounded dimension table. Stateless — no
    watermark, no join state — because the static side is fully known up
    front; Spark re-plans the static side per micro-batch, so a dimension
    refreshed in place is picked up on the next trigger.

    Scale: with ``broadcast`` (the default) the dimension ships to every
    executor once per batch and the streaming side NEVER shuffles — the
    only sane shape for joining a 100 TB/day event stream to a
    million-row dimension. Set ``broadcast=False`` only when the dimension
    is too big to broadcast, accepting a per-batch shuffle on the stream.

    Only inner and left_outer are stateless for stream-static; other join
    types are rejected by Spark itself.
    """
    d = F.broadcast(dim) if broadcast else dim
    return stream_df.join(d, on, how)


def _already_applied(ptr, vname: str) -> bool:
    """True if a versioned sink's LATEST pointer already names ``vname`` or
    a later version — i.e. this batch_id committed its merge before a crash
    and is being re-delivered by checkpoint recovery. Merging again would
    read the batch's own output directory while overwriting it (foreachBatch
    is at-least-once; the pointer swap can land before the streaming
    checkpoint commits). Version names are zero-padded so the string compare
    is a numeric compare."""
    return ptr.exists() and ptr.read_text().strip() >= vname


def stream_upsert_lww(stream_df: DataFrame, keys: list[str], *,
                      table_dir: str, checkpoint_dir: str,
                      writetime_col: str = "writetime",
                      version_keep: int = 2) -> DataFrame:
    """Streaming last-writer-wins UPSERT into a versioned parquet table —
    the production streaming-ingest sink: every micro-batch merges into the
    keyed table with the liveness rule (higher writetime wins, struct
    tie-break — SURVEY.md §1.2, the same rule compact.merge_runs_lww
    applies), written as a NEW version directory with an atomically-swapped
    pointer file, so readers never observe a half-written table and
    the previous version remains for rollback (the keep-originals
    lifecycle every sink here follows).

    The merge is associative and commutative over batches (struct arg-max),
    so the final table is independent of how the input was micro-batched —
    which is what makes the batch LWW query an exact oracle for this sink.

    Scale: per batch, ONE shuffle keyed on ``keys`` over current ∪ batch.
    That is the compact-on-every-batch strategy — simplest correct form;
    a production variant at 100 TB partitions the table and rewrites only
    key-ranges the batch touches. ``version_keep`` old versions are pruned.

    Runs the stream to completion (availableNow) and returns the final
    table as a batch DataFrame.
    """
    from pathlib import Path

    from cassandra_ttl_remover_spark.operators.compact import merge_runs_lww
    from cassandra_ttl_remover_spark.sinks.writer import (
        claim_table_writer,
        commit_table_version,
    )

    base = Path(table_dir)
    base.mkdir(parents=True, exist_ok=True)
    claim_table_writer(str(base), "stream")
    ptr = base / "LATEST"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vname = f"v{batch_id:010d}"
        # idempotent replay guard — see _already_applied: a re-delivered
        # batch must not merge the table into its own output directory
        if _already_applied(ptr, vname):
            return
        frames = [batch_df]
        if ptr.exists():
            frames.append(spark.read.parquet(str(base / ptr.read_text().strip())))
        merged = merge_runs_lww(frames, keys=keys, writetime_col=writetime_col)
        commit_table_version(merged, str(base), vname,
                             version_keep=version_keep)

    (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    spark = stream_df.sparkSession
    return spark.read.parquet(str(base / ptr.read_text().strip()))


def read_table_version(spark: SparkSession, table_dir: str,
                       version: str | None = None) -> DataFrame:
    """Read a :func:`stream_upsert_lww` table — latest by default, or any
    retained version directory by name ("time travel" over the versioned
    lifecycle; `version_keep` bounds how far back). The pointer file is the
    atomic read boundary: a concurrent upsert swaps it only after its
    version is fully committed."""
    from pathlib import Path

    base = Path(table_dir)
    if version is None:
        version = (base / "LATEST").read_text().strip()
    target = base / version
    if not target.is_dir():
        have = sorted(p.name for p in base.iterdir()
                      if p.is_dir() and p.name.startswith("v"))
        raise FileNotFoundError(
            f"version {version!r} not retained under {table_dir!r}; "
            f"available: {have}"
        )
    return spark.read.parquet(str(target))


def stream_apply_changes(stream_df: DataFrame, keys: list[str], *,
                         table_dir: str, checkpoint_dir: str,
                         writetime_col: str = "writetime",
                         op_col: str = "op",
                         version_keep: int = 2) -> DataFrame:
    """Streaming CDC apply — and the reference's deepest storage lesson
    enforced by construction: TOMBSTONES ARE RETAINED. Each micro-batch
    merges the change feed (``op_col`` in {'I','U','D'}) into the versioned
    table by the same ``(writetime, op, *values)`` arg-max as the batch
    :func:`operators.compact.apply_changes`, but winning DELETES are
    STORED, not dropped — drop them at write time and a late-arriving
    older update in a later batch would resurrect the key (exactly why
    Cassandra keeps tombstones until compaction can prove them safe,
    SURVEY.md §1.2). The live view — deletes filtered — is applied only at
    READ time, so the incremental result equals the one-shot batch apply
    no matter how the feed was micro-batched.

    Returns the final LIVE table (tombstones filtered); the stored table
    (read_table_version) retains them for repair/late-data correctness.

    Scale: per batch one shuffle on the key, same as the upsert sink;
    tombstone rows are key+metadata only in practice and compact away once
    a retention policy allows (out of scope here, policy-dependent)."""
    from pathlib import Path

    from cassandra_ttl_remover_spark.sinks.writer import (
        claim_table_writer,
        commit_table_version,
    )

    base = Path(table_dir)
    base.mkdir(parents=True, exist_ok=True)
    claim_table_writer(str(base), "stream")
    ptr = base / "LATEST"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vname = f"v{batch_id:010d}"
        # idempotent replay guard — see _already_applied
        if _already_applied(ptr, vname):
            return
        u = batch_df
        if ptr.exists():
            u = u.unionByName(
                spark.read.parquet(str(base / ptr.read_text().strip()))
            )
        value_cols = [c for c in u.columns
                      if c not in (*keys, writetime_col, op_col)]
        picked = u.groupBy(*keys).agg(
            F.max(F.struct(writetime_col, op_col, *value_cols)).alias("_w")
        )
        merged = picked.select(
            *keys,
            F.col(f"_w.{writetime_col}").alias(writetime_col),
            F.col(f"_w.{op_col}").alias(op_col),
            *[F.col(f"_w.{c}").alias(c) for c in value_cols],
        )
        commit_table_version(merged, str(base), vname,
                             version_keep=version_keep)

    (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    spark = stream_df.sparkSession
    stored = spark.read.parquet(str(base / ptr.read_text().strip()))
    return stored.filter(F.col(op_col) != "D").drop(op_col)
