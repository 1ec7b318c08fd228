"""Structured Streaming operators.

The reference has no streams (SURVEY.md §2.9 — its incremental behaviors are
batch checkpoint/resume, which operators/checkpoint.py covers). These
operators extend the engine to streaming ingestion of the same corpora — the
shape a production extraction service needs: file-source discovery of new doc
partitions, watermarked event-time aggregation, and a foreachBatch extraction
sink that reuses the batch pipeline (exactly-once per micro-batch via the
idempotent partition overwrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet directory/file."""
    return spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(path)


def windowed_event_counts(
    events: DataFrame, window: str = "5 minutes", slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked sliding-window aggregation (late data handled by the
    watermark; append-mode emits only finalized windows)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (built-in session_window; gap-based).

    Boundary semantics (verified empirically on Spark 4.1.2 and pinned by
    tests/test_streaming.py::test_sessionize_exact_gap_merges, mirrored by the
    DuckDB oracle's strict '>'): an event arriving EXACTLY ``gap`` after the
    previous one MERGES into the same session (closed gap boundary); only a
    strictly larger silence starts a new session."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("sess.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            F.date_format("sess.end", "yyyy-MM-dd HH:mm:ss").alias("sess_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count + value total, emitted once per micro-batch.

    State schema (n bigint, total double) persists across batches in the
    state store — the arbitrary-stateful-processing surface the brief calls
    for (the reference has no streaming; this extends the engine).

    State keeps the UNROUNDED running total; rounding happens only at
    emission. Rounding inside the state would compound a per-batch rounding
    error across micro-batches, so the final emission could drift from the
    batch ground truth round(sum(value), 4)."""
    from pyspark.sql.streaming.state import GroupState

    out_schema = "user_id bigint, n bigint, total double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total": [round(total, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def streaming_dedup(
    docs: DataFrame, text_col: str = "text", state_ttl_ms: int | None = None
) -> DataFrame:
    """Cross-batch exact dedup for streaming ingestion: keyed state per
    normalized-content fingerprint (text_analysis.content_fp, the key of
    the batch ``fingerprint`` / ``curate_corpus`` keeper stage) emits only
    the FIRST-seen document per fingerprint across all micro-batches;
    duplicates arriving later (replays, re-crawls, mirror copies) are
    dropped before the expensive extraction path ever sees them.

    State is a single marker per distinct fingerprint — the minimal dedup
    state a long-running ingestion keeps. At 10^12-doc scale the state
    store is RocksDB-backed and the grouping key (the 32-char md5) hash
    -partitions evenly by construction, so no key skew.

    ``state_ttl_ms`` bounds the dedup horizon so state does not grow
    unboundedly on a long-running stream: each fingerprint's marker expires
    ``state_ttl_ms`` of processing time after it was LAST seen (seeing a
    duplicate refreshes the clock — hot content stays deduped, cold
    fingerprints age out). After expiry the same content is admitted (and
    emitted) again — the standard sliding-horizon dedup trade-off. None
    (default) keeps state forever, matching batch-exact semantics.

    To run a TTL'd dedup as a bounded drain (process everything currently
    in the source, then stop), start the query and hand it to ``drain()``
    — plain ``processAllAvailable``/``availableNow`` cannot terminate a
    ProcessingTimeTimeout query (see ``drain``'s docstring).
    """
    from pyspark.sql.streaming.state import GroupState

    out_schema = "doc_id bigint, fp_md5 string, text string"
    state_schema = "seen int"
    timeout_conf = "NoTimeout" if state_ttl_ms is None else "ProcessingTimeTimeout"

    from .operators.text_analysis import content_fp

    keyed = docs.select(
        "doc_id",
        content_fp(text_col).alias("fp_md5"),
        F.col(text_col).alias("text"),
    )

    def first_seen(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            # no data for this fingerprint within the TTL — drop the marker;
            # the next arrival of this content is admitted afresh
            state.remove()
            return
        admitted = state.exists
        if admitted:
            for _ in pdfs:  # duplicates of an already-admitted fingerprint
                pass
        else:
            chunks = list(pdfs)
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            # vectorized min-doc_id pick (determinism within a batch);
            # no per-row Python loop
            best = batch.loc[batch["doc_id"].idxmin()]
            state.update((1,))
            yield pd.DataFrame(
                {
                    "doc_id": [int(best["doc_id"])],
                    "fp_md5": [key[0]],
                    "text": [best["text"]],
                }
            )
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)

    return keyed.groupBy("fp_md5").applyInPandasWithState(
        first_seen, out_schema, state_schema, "update", timeout_conf
    )


def drain(query, empty_batches: int = 2, timeout_s: float = 600.0,
          poll_s: float = 0.2, idle_span_s: float = 1.0) -> None:
    """Run a started streaming query until its source is drained, then stop
    it — termination semantics for queries that never reach a terminal state
    on their own.

    A query holding ProcessingTimeTimeout state (e.g. ``streaming_dedup``
    with ``state_ttl_ms``) schedules no-data micro-batches on every trigger
    so idle keys can expire; ``processAllAvailable()`` and
    ``trigger(availableNow)`` therefore never see it finish. This helper
    supplies the missing drain: poll progress until ``empty_batches``
    consecutive micro-batches read zero input rows — at that point
    everything available when the drain began has been processed and its
    offsets committed — then ``stop()``. For NoTimeout queries (where the
    engine goes idle instead of running empty batches) it falls back to the
    engine-idle signal: no active trigger, no data available, at least one
    batch completed, AND the idle state holding continuously for
    ``idle_span_s`` seconds with the committed source offsets unchanged
    across the whole idle window — two instantaneous flag reads alone could
    fire in the gap between triggers (or while the file source is still
    listing a late-landing file) and stop the query before the source is
    actually drained.

    Raises the query's own exception if it failed mid-drain, and
    ``TimeoutError`` (after stopping the query) if neither signal arrives
    within ``timeout_s``.
    """
    import json
    import time

    deadline = time.time() + timeout_s
    consecutive = 0
    last_batch = -1
    idle_since: float | None = None
    idle_offsets = None

    def _committed_offsets(p):
        # the per-source endOffset set the engine has committed through —
        # any new data picked up between idle reads moves at least one
        return None if p is None else tuple(
            json.dumps(s.get("endOffset"), sort_keys=True)
            for s in p.get("sources", [])
        )

    while consecutive < empty_batches:
        exc = query.exception()
        if exc is not None:
            query.stop()
            raise exc
        p = query.lastProgress
        if p is not None and p["batchId"] != last_batch:
            last_batch = p["batchId"]
            consecutive = consecutive + 1 if p["numInputRows"] == 0 else 0
        st = query.status
        if (last_batch >= 0 and not st["isDataAvailable"]
                and not st["isTriggerActive"]):
            # NoTimeout path: engine idle with the source exhausted. The
            # idle state must HOLD for idle_span_s with committed offsets
            # unchanged — an instantaneous read can land in the gap between
            # triggers (or mid file-source listing) and misread "drained".
            now = time.time()
            offs = _committed_offsets(p)
            if idle_since is None or offs != idle_offsets:
                idle_since, idle_offsets = now, offs
            elif now - idle_since >= idle_span_s:
                break
        else:
            idle_since = None
        if time.time() > deadline:
            query.stop()
            raise TimeoutError(
                f"stream not drained within {timeout_s}s "
                f"(last batch {last_batch}, {consecutive} empty)"
            )
        time.sleep(poll_s)
    query.stop()


def stream_docs(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """File-source stream over the corpus docs table: newly landed parquet
    files under docs/ become micro-batches (the streaming-ingestion front end
    of the extraction service)."""
    from .sources import DOCS_SCHEMA

    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .load(corpus_dir.rstrip("/") + "/docs")
    )


def extraction_sink(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    cfg=None,
    pipe=None,
):
    """foreachBatch extraction sink: every micro-batch of newly-discovered
    docs runs the SAME batch inference path (pipeline.extract_spans_from_docs
    — shape-batched pandas-UDF decode, broadcast weights) and lands in
    out_dir/docs partitioned by (part, batch_id). Batches are ADDITIVE:
    batch k writes only part=*/batch_id=k leaves, so a later micro-batch
    touching the same doc-partition never replaces an earlier batch's output
    (distinct batch_id ⇒ distinct directories). Dynamic partition overwrite
    then only matters on REPLAY of the same batch (restart between sink write
    and offset commit): the replayed batch has the same batch_id and source
    files, so it rewrites exactly its own leaves byte-identically —
    exactly-once output on top of the stream checkpoint's at-least-once
    replay, now under continuous multi-batch ingestion too. Media lookup is
    the static side of the join. Read the result with ``read_extracted``
    (drops the batch_id bookkeeping column).

    Runs with trigger(availableNow): drains everything currently in the
    source then stops — call .awaitTermination() on the returned query.
    """
    from .config import ModelConfig, PipelineConfig
    from .operators.reassemble import reassemble
    from .pipeline import broadcast_weights, extract_spans_from_docs
    from .sources import read_media

    cfg = cfg or ModelConfig.small()
    pipe = pipe or PipelineConfig()
    weights_bc = broadcast_weights(spark, cfg)
    media_tbl = read_media(spark, corpus_dir)
    out_docs = out_dir.rstrip("/") + "/docs"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        flat = extract_spans_from_docs(
            batch_df.sparkSession, batch_df, media_tbl, cfg=cfg, pipe=pipe,
            weights_bc=weights_bc,
        )
        out = reassemble(flat).withColumn("batch_id", F.lit(int(batch_id)))
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part", "batch_id").parquet(out_docs)

    return (
        stream_docs(spark, corpus_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", out_dir.rstrip("/") + "/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the extraction sink's output as the plain docs schema.

    The file source delivers each landed file exactly once, so a doc_id
    appears in exactly one batch and dropping the batch_id partition column
    is a projection, not a dedup. (A source that re-delivered updated docs
    would need a keep-latest window on batch_id here — keyed, never
    positional.)"""
    return spark.read.parquet(out_dir.rstrip("/") + "/docs").drop("batch_id")


def run_to_memory(df: DataFrame, name: str) -> None:
    """Drive a bounded file-source stream to completion synchronously
    (complete mode keeps every window — fine for bounded smoke runs)."""
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
