"""Structured-Streaming equivalents of fuel's data server.

Reference parity: ``fuel/server.py`` (start_server: ZMQ push of numpy
batches), ``fuel/streams.py:186`` ServerDataStream (pull side).

fuel ships minibatches over a socket to decouple producers from the
training loop; Spark's native decoupling is a stream: a source
(files/rate/kafka) → incremental query → sink.  Batches land as
micro-batch tables; watermarks handle the late data the ZMQ design
silently drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fuel_spark.functions import materialize


def stream_events_from_files(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """File-source stream — the 'fuel-server directory of shards'
    pattern: producers drop parquet shards, consumers read them
    incrementally (exactly-once, checkpointed)."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of plans.analytics.events_tumbling_window:
    watermarked tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def serve_batches(
    stream: DataFrame, sink_path: str, checkpoint: str, trigger_available_now: bool = True
):
    """Write the incremental result — the ServerDataStream consumer
    contract: downstream picks up batch files as they appear."""
    writer = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    events: DataFrame,
    id_cols: list[str],
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each id
    within the watermark horizon — the Structured Streaming twin of
    ``ops.dedup.exact_dedup`` for at-least-once sources (replayed
    events, producer retries).

    Dedup is on the id columns ALONE (``dropDuplicatesWithinWatermark``):
    a producer retry that re-stamps the event with a fresh timestamp is
    still the same id and still gets dropped — keying on (id, ts) would
    only catch byte-identical replays.  State is bounded: ids older
    than the watermark are evicted, so memory is O(events per horizon),
    not O(corpus) — the only dedup contract that works on an infinite
    stream.
    """
    return events.withWatermark(
        watermark_col, watermark
    ).dropDuplicatesWithinWatermark(id_cols)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: right rows within
    ``[left_ts - upper, left_ts - lower]`` of each left row, same key.

    Both sides are watermarked so the join state is bounded — Spark
    evicts buffered rows once the watermark passes the interval. The
    streaming analogue of ``ops.core.asof_join``'s bounded-lookback
    case (an unbounded as-of cannot have finite state on a stream).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} - INTERVAL {upper}"))
        & (F.col(f"r.{right_ts}") <= F.expr(f"l.{left_ts} - INTERVAL {lower}"))
    )
    return l.join(r, cond, "inner")


# -------------------- live network serving ---------------------------


class SocketBatchServer:
    """Live producer/consumer decoupling over a TCP socket — the twin
    of fuel's ``start_server`` (reference fuel/server.py:32, ZMQ PUSH
    of numpy batches) with ``ServerDataStream`` (fuel/streams.py:186)
    as the pull side.

    Each micro-batch is pushed to every connected client as
    newline-delimited JSON rows; the Spark-native consumer is the
    built-in ``format("socket")`` source + ``from_json`` (see
    :func:`client_stream`).

    THROUGHPUT BOUND (by design): ``sink`` collects each micro-batch
    to the driver and sends it over one socket — exactly fuel's own
    single-node server shape (reference fuel/server.py:32 pushes
    numpy batches from one process), so the ceiling is driver memory
    for one micro-batch and one NIC's egress.  Right for demo /
    single-consumer serving; for production egress use
    :func:`partition_push_sink`, where every executor task streams
    its own partition over its own connection and the driver never
    materializes a batch.
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        import socket
        import threading

        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(8)
        self.host, self.port = self._srv.getsockname()
        self._clients: list = []
        # guards _clients: the accept thread appends while sink()
        # rebuilds the registry — an unsynchronized rebuild from a
        # pre-send snapshot would silently drop (and leak) any client
        # accepted mid-batch.
        self._lock = threading.Lock()
        self._closed = False

        def accept_loop():
            while not self._closed:
                try:
                    conn, _ = self._srv.accept()
                except OSError:
                    return
                with self._lock:
                    self._clients.append(conn)

        self._thread = threading.Thread(target=accept_loop, daemon=True)
        self._thread.start()

    def sink(self, df: DataFrame, batch_id: int) -> None:
        """foreachBatch callback: push the micro-batch as JSON lines."""
        rows = df.toJSON().collect()
        if not rows:
            return
        payload = ("\n".join(rows) + "\n").encode()
        with self._lock:
            snapshot = list(self._clients)
        dead = []
        for conn in snapshot:
            try:
                conn.sendall(payload)
            except OSError:
                conn.close()
                dead.append(conn)
        with self._lock:
            # remove only the connections *we* saw fail; clients
            # accepted during the send loop stay registered
            self._clients[:] = [c for c in self._clients if c not in dead]

    def close(self) -> None:
        self._closed = True
        with self._lock:
            clients = list(self._clients)
        for conn in clients:
            try:
                conn.close()
            except OSError:
                pass
        self._srv.close()


def serve_over_socket(
    stream: DataFrame,
    server: SocketBatchServer,
    checkpoint: str,
    trigger_available_now: bool = True,
    processing_time: str | None = None,
):
    """Start a streaming query that pushes every micro-batch through
    ``server`` — the fuel-server producer loop, checkpointed."""
    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(server.sink)
        .option("checkpointLocation", checkpoint)
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def partition_push_sink(host: str, port: int, flush_rows: int = 1000):
    """Executor-parallel JSON-lines push: a ``foreachBatch`` callback
    where each partition's task opens its OWN TCP connection to
    ``(host, port)`` and streams its rows directly.

    This is the horizontal-scale tier of :class:`SocketBatchServer`:
    the driver never materializes a batch, per-task memory is bounded
    by ``flush_rows`` JSON lines, and egress bandwidth scales with
    executor count (N tasks → N concurrent connections into the
    collector — the shape of any partitioned-bus producer).  The
    receiver must accept concurrent connections; row order across
    partitions is unspecified, as on any parallel bus.
    """

    def sink(df: DataFrame, batch_id: int) -> None:
        def push(lines):
            import socket

            conn = socket.create_connection((host, port))
            try:
                buf = []
                for line in lines:
                    buf.append(line)
                    if len(buf) >= flush_rows:
                        conn.sendall(("\n".join(buf) + "\n").encode())
                        buf.clear()
                if buf:
                    conn.sendall(("\n".join(buf) + "\n").encode())
            finally:
                conn.close()

        df.toJSON().foreachPartition(push)

    return sink


def client_stream(spark: SparkSession, host: str, port: int, schema: str) -> DataFrame:
    """ServerDataStream pull side: subscribe to a socket server and
    parse the JSON rows back into typed columns."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return raw.select(F.from_json("value", schema).alias("r")).select("r.*")


# -------------------- custom stateful operator ------------------------


SESSION_STATE_SCHEMA = "last_ts long, session_id long, n_events long, min_ts long"
SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, min_ts long, max_ts long"
)


def sessionize_stateful(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Gap-based sessions as a custom stateful streaming operator
    (applyInPandasWithState) — the pattern fuel cannot express at all:
    distributed, fault-tolerant per-key state.

    Cross-batch contract (update mode): state carries the *open*
    session's running accumulators (last_ts, session_id, n_events,
    min_ts), so a session spanning micro-batches re-emits its
    (user_id, session_id) row with cumulative counts that supersede
    the previous emission.  All Arrow chunks of a micro-batch are
    concatenated before sorting — chunk-local sorts would process a
    key's events out of time order and mis-assign sessions.

    Batch twin: plans.analytics.events_sessionize (oracle-checked).
    """
    import pandas as pd

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_ts, session_id, n_events, min_ts = state.get
        else:
            last_ts, session_id, n_events, min_ts = None, 0, 0, 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        all_ts = (
            sorted(pd.concat(chunks)["ts_long"].tolist()) if chunks else []
        )
        rows = []
        for ts in all_ts:
            if last_ts is not None and ts - last_ts <= gap_sec:
                n_events += 1
            else:
                if last_ts is not None:
                    # close the previous session with its final totals
                    rows.append((user_id, session_id, n_events, min_ts, last_ts))
                session_id += 1
                n_events = 1
                min_ts = ts
            last_ts = ts
        if last_ts is not None and all_ts:
            # emit the (still open) session's cumulative row
            rows.append((user_id, session_id, n_events, min_ts, last_ts))
        state.update((last_ts, session_id, n_events, min_ts))
        yield pd.DataFrame(
            rows, columns=["user_id", "session_id", "n_events", "min_ts", "max_ts"]
        )

    prepared = events.select(
        F.col("user_id"), F.col("ts").cast("long").alias("ts_long")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_OUT_SCHEMA = "shard int, key long, count_min long"
HH_STATE_SCHEMA = "keys array<long>, counts array<long>"


def heavy_hitters_stream(
    events: DataFrame,
    key_col: str = "user_id",
    k: int = 16,
    num_shards: int = 8,
) -> DataFrame:
    """Streaming heavy hitters as a BOUNDED-STATE stateful operator:
    the Misra–Gries summary (Misra & Gries 1982) in its mergeable
    form (Agarwal et al. 2013) — per shard, at most ``k`` counters
    survive any micro-batch, so state is O(k·num_shards) FOREVER
    regardless of stream length or key cardinality (the property a
    naive streaming groupBy-count lacks: its state grows with
    distinct keys).  The "who is hammering the pipeline" screen for
    a crawl frontier or event firehose.

    Per batch and shard: fold the batch's key counts into the
    carried counters, then prune to the k largest by subtracting the
    (k+1)-th largest count (deterministic ties: larger count first,
    then smaller key).  Standard MG guarantee, stated: emitted
    counts are LOWER BOUNDS underestimating true per-shard counts by
    at most N_shard/(k+1); every key with true count above that
    bound is present.  Keys shard by ``pmod(hash, num_shards)`` so
    the per-key guarantee holds within its shard and skew spreads
    across tasks.

    Update-mode semantics: each batch re-emits the shard's CURRENT
    summary (superseding earlier emissions), like
    :func:`sessionize_stateful`'s open-session rows.

    Output: shard, key, count_min.

    ``key_col`` must be an INTEGRAL column (the state tuple carries
    long keys): a non-numeric column would silently cast to NULL and
    collapse every such key into one counter, so it is rejected
    loudly here — hash string keys to long first
    (``F.xxhash64(col)``) if that lower-bound-on-hashed-keys view is
    acceptable.
    """
    import pandas as pd
    from pyspark.sql import types as T

    key_type = events.schema[key_col].dataType
    if not isinstance(
        key_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"heavy_hitters_stream: key_col {key_col!r} has type "
            f"{key_type.simpleString()}; an integral key is required "
            "(a lossy cast would collapse non-numeric keys into one "
            "NULL counter). Hash to long explicitly, e.g. "
            "df.withColumn(k, F.xxhash64(col))."
        )

    def fn(key, pdfs, state: GroupState):
        (shard,) = key
        ctr: dict[int, int] = {}
        if state.exists:
            keys_, counts_ = state.get
            ctr = dict(zip(keys_, counts_))
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            vc = pd.concat(chunks)["_k"].value_counts()
            for kk, c in vc.items():
                ctr[int(kk)] = ctr.get(int(kk), 0) + int(c)
        if len(ctr) > k:
            items = sorted(ctr.items(), key=lambda x: (-x[1], x[0]))
            cut = items[k][1]  # the (k+1)-th largest count
            ctr = {a: b - cut for a, b in items[:k] if b - cut > 0}
        items = sorted(ctr.items(), key=lambda x: (-x[1], x[0]))
        state.update((
            [a for a, _ in items],
            [b for _, b in items],
        ))
        yield pd.DataFrame(
            [(shard, a, b) for a, b in items],
            columns=["shard", "key", "count_min"],
        )

    prepared = events.select(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(int(num_shards)))
        .cast("int")
        .alias("_shard"),
        F.col(key_col).cast("long").alias("_k"),
    )
    return prepared.groupBy("_shard").applyInPandasWithState(
        fn,
        outputStructType=HH_OUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def near_dup_stream(
    docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
) -> DataFrame:
    """Streaming near-dup screen against a STATIC MinHash band index:
    each incoming document is sketched with the same minhash family as
    ``ops.dedup.with_minhash_bands`` and dropped if ANY of its band
    keys collides with the reference corpus's index — how new crawl
    data is screened against an already-deduplicated 100 TB corpus
    without rebuilding anything.

    Stream-compatible by construction: band keys are WIDE columns
    (``minhash_band_key_cols``), so the collision check is B chained
    stream-static LEFT ANTI joins (supported in append mode, no
    streaming state).  All B joins read one static frame, the index's
    band-qualified keys ``<band_id>:<band_key>``, materialized when the
    stream is built (a snapshot of ``index``, see
    ``functions.materialize``).  A doc's key ``<b>:<band_key_b>`` meets
    only index keys of band b, and ``concat`` keeps a NULL key NULL, so
    it never matches.  When the key set is small the B joins broadcast
    the identical frame, so ReuseExchange runs one broadcast per
    micro-batch, not B; at scale it shuffle-joins against the
    micro-batch.  ``index`` comes from ``with_minhash_bands`` over the
    reference corpus (materialize to parquet and reload).  Exact
    duplicates compose upstream via ``dedup_stream``.
    """
    from fuel_spark.ops.dedup import minhash_band_key_cols

    wide = minhash_band_key_cols(
        docs, id_col, text_col, num_hashes, bands, shingle_k
    )
    keys = materialize(
        index.select(
            F.concat("band_id", F.lit(":"), "band_key").alias("_ik")
        ).distinct()
    )
    for b in range(bands):
        wide = wide.join(
            keys,
            F.concat(F.lit(f"{b}:"), f"band_key_{b}") == F.col("_ik"),
            "left_anti",
        )
    return wide.select(*docs.columns)


def bloom_screen_stream(
    candidates: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
    seed: int = 5,
) -> DataFrame:
    """Streaming Bloom membership screen against a STATIC position
    table (``ops.sketch.bloom_build`` output): each incoming key is
    flagged iff ALL ``k_hashes`` of its bit positions are set — the
    zero-streaming-state screen shape of :func:`near_dup_stream`
    applied to exact membership (seen URLs, processed doc ids) at
    O(1) state instead of a growing seen-set.

    ``k_hashes`` chained stream-static LEFT joins (append-mode legal,
    no state) + a row-local flag.  All k joins read ONE static frame,
    the distinct position set, materialized when the stream is built
    (a snapshot of ``bloom``, see ``functions.materialize``): the
    ≤ m_bits positions broadcast once per micro-batch, the other
    k - 1 joins reuse that exchange, and no micro-batch re-aggregates
    the table.  No false negatives by construction (Bloom 1970); the
    false-positive rate is the planner's
    (``ops.sketch.bloom_size_planner``).  Output: input columns +
    bloom_hit.
    """
    from fuel_spark.functions import hash_mod

    pos = materialize(bloom.select("pos").distinct())
    out = candidates
    for i in range(k_hashes):
        out = out.withColumn(
            f"_pos{i}", hash_mod(f"bl{seed}h{i}", F.col(key_col), m_bits)
        )
        b_i = pos.select(F.col("pos").alias(f"_bp{i}"))
        out = out.join(b_i, out[f"_pos{i}"] == b_i[f"_bp{i}"], "left")
    hit = None
    for i in range(k_hashes):
        c = F.col(f"_bp{i}").isNotNull()
        hit = c if hit is None else (hit & c)
    return out.withColumn("bloom_hit", hit).select(
        *candidates.columns, "bloom_hit"
    )


PACK_STATE_SCHEMA = "next_pack long, cur_tok long, cur_ids array<long>"
PACK_OUT_SCHEMA = (
    "shard bigint, pack_id bigint, doc_ids array<bigint>, "
    "n_docs bigint, n_tokens bigint, closed boolean"
)


def pack_tokens_stateful(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_count_col: str = "ws_tokens",
    shard_col: str = "shard",
) -> DataFrame:
    """Streaming token-budget packing: greedy first-fit of arriving
    documents into fixed-token-budget training batches, carried ACROSS
    micro-batches (the open pack's partial fill lives in keyed state)
    — the streaming twin of ``ops.core.pack_token_budget_local``.

    Keyed by a shard column (route with ``pmod(hash(id), n_shards)``
    upstream) so packing parallelizes; each shard packs its documents
    in (micro-batch, id) order — deterministic given an input order.
    Update-mode contract mirrors ``sessionize_stateful``: a pack row
    re-emits with cumulative fill until ``closed`` is true; only
    closed packs are final.  A document larger than the budget closes
    its own pack immediately.

    fuel parity: this is fuel-server streaming minibatches
    (fuel/server.py:32) upgraded with what ZMQ push cannot do —
    fault-tolerant cross-batch fill state and exactly-once re-emission.
    """
    import pandas as pd

    def fn(key, pdfs, state: GroupState):
        (shard,) = key
        if state.exists:
            next_pack, cur_tok, cur_ids = state.get
            cur_ids = list(cur_ids)
        else:
            next_pack, cur_tok, cur_ids = 0, 0, []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        rows = []

        def emit(closed):
            rows.append((shard, next_pack, list(cur_ids), len(cur_ids),
                         cur_tok, closed))

        if chunks:
            allp = pd.concat(chunks).sort_values("_id")
            for doc_id, tok in zip(allp["_id"], allp["_tok"]):
                tok = int(tok)
                if cur_ids and cur_tok + tok > budget:
                    emit(True)
                    next_pack += 1
                    cur_ids, cur_tok = [], 0
                cur_ids.append(int(doc_id))
                cur_tok += tok
                if cur_tok >= budget:
                    emit(True)
                    next_pack += 1
                    cur_ids, cur_tok = [], 0
        if cur_ids:
            emit(False)  # open pack: cumulative re-emission
        state.update((next_pack, cur_tok, list(cur_ids)))
        yield pd.DataFrame(
            rows,
            columns=["shard", "pack_id", "doc_ids", "n_docs", "n_tokens",
                     "closed"],
        )

    prepared = docs.select(
        F.col(shard_col).cast("long").alias("shard"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(token_count_col).cast("long").alias("_tok"),
    )
    return prepared.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=PACK_OUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def segment_screen_stream(
    docs: DataFrame,
    seg_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_words: int = 32,
) -> DataFrame:
    """Streaming twin of ``ops.dedup.segment_dedup`` against a STATIC
    segment-hash index: each incoming document's non-overlapping
    ``segment_words``-token segments are hashed with the same digest
    family and checked against the reference corpus's segment set.

    Stream-compatible by construction: chunking is a stateless
    per-row explode and the membership check is one stream-static
    LEFT SEMI join — zero streaming state, append mode.  Emits the
    FLAGGED segments (id, chunk_id, seg_hash); per-doc verdicts
    aggregate downstream where a watermark is available (keeping the
    emission segment-level is what keeps the operator stateless).
    ``seg_index`` holds the seg_hash set of the reference corpus
    (from ``segment_dedup`` output or built with the same chunk+md5
    projection; parquet-reload in production).  Its distinct set is
    materialized when the stream is built, a snapshot that no
    micro-batch re-aggregates (see ``functions.materialize``).
    """
    from fuel_spark.ops.text import chunk_documents

    segs = chunk_documents(
        docs, text_col, id_col, chunk_size=segment_words, stride=segment_words
    ).select(id_col, "chunk_id", F.md5(F.col("chunk_text")).alias("seg_hash"))
    idx = materialize(seg_index.select("seg_hash").distinct())
    return segs.join(idx, "seg_hash", "left_semi")


def substring_screen_stream(
    docs: DataFrame,
    seed_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_k: int = 5,
) -> DataFrame:
    """Streaming twin of ``ops.dedup.exact_substring_spans`` against a
    STATIC reference seed index: each incoming document's word k-gram
    seed hashes (``ops.dedup.substring_seeds`` — the exact front end
    the batch operator uses) are checked against the reference
    corpus's seed postings, so new crawl data is screened for
    verbatim overlap with an already-processed 100 TB corpus without
    recomputing anything on the reference side.

    Stream-compatible by construction: seeding is a stateless per-row
    explode and the overlap check is one stream-static INNER join —
    zero streaming state, append mode.  Emits SEED-level matches
    (id, pos, gh, ref_doc, ref_pos); maximal spans aggregate
    downstream with the batch islands trick on
    (id, ref_doc, pos - ref_pos) where a watermark is available —
    keeping the emission seed-level is what keeps the operator
    stateless, the ``segment_screen_stream`` contract.  ``seed_index``
    is ``substring_seeds`` over the reference corpus with columns
    renamed (ref_doc, ref_pos, gh) — materialize to parquet and
    reload in production.

    Unlike the other stream-static screens, the static side is NOT
    materialized at build time: the postings are a plain scan with no
    per-batch aggregate to save, and materializing them would copy the
    whole index into executor blocks.
    """
    from fuel_spark.ops.dedup import substring_seeds

    seeds = substring_seeds(docs, id_col, text_col, seed_k)
    idx = seed_index.select("gh", "ref_doc", "ref_pos")
    return seeds.join(idx, "gh").select(
        id_col, "pos", "gh", "ref_doc", "ref_pos"
    )


def url_dedup_stream(
    pages: DataFrame,
    url_col: str = "url",
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming crawl-frontier URL dedup: canonicalize (scheme/www/
    fragment/tracking-param/trailing-slash normalization — the batch
    ``ops.text.url_dedup`` projection) then keep the first page per
    canonical URL within the watermark horizon.

    Canonicalization is stateless (pure string expressions on the
    micro-batch); the only state is the bounded
    ``dropDuplicatesWithinWatermark`` key set on the CANONICAL url, so
    an http/https/utm-variant re-crawl is one page, and memory is
    O(pages per horizon), not O(frontier).
    """
    from fuel_spark.ops.text import canonical_url

    canon = pages.withColumn("canonical_url", canonical_url(F.col(url_col)))
    return canon.withWatermark(
        watermark_col, watermark
    ).dropDuplicatesWithinWatermark(["canonical_url"])


def quality_screen_stream(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Streaming C4 rule screen: the zero-state twin of
    ``ops.text.c4_filters`` — flags and keep verdicts computed per
    micro-batch with no streaming state at all (the same lazy plan
    works batch and streaming; this wrapper just documents the
    contract and keeps the streaming surface symmetrical with the
    near-dup screen)."""
    from fuel_spark.ops.text import c4_filters

    return c4_filters(docs, id_col, text_col)


def anomaly_screen_stream(
    events: DataFrame,
    baseline: DataFrame,
    type_col: str = "event_type",
    value_col: str = "value",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Streaming volume/value anomaly screen: each incoming event
    z-scores against a STATIC per-type baseline (mean/std moments
    from a batch profile of history — e.g. the daily rollup behind
    ``plans.analytics.events_daily_anomalies``) and rows beyond the
    threshold flag ``is_anomaly``.

    Stream-static broadcast join against the aggregate-sized moment
    table + a row-local score: ZERO streaming state, so the screen
    runs at source rate with no watermark or checkpoint growth — the
    production shape for online outlier triage (retrain the baseline
    batch-side, swap it under the stream).

    ``baseline`` columns: ``<type_col>``, ``mean``, ``std``.  It is
    materialized when the stream is built, so every micro-batch reads
    the same snapshot instead of recomputing the profile behind it
    (see ``functions.materialize``).
    """
    scored = events.join(F.broadcast(materialize(baseline)), type_col, "left")
    z = (F.col(value_col) - F.col("mean")) / F.col("std")
    return scored.withColumn(
        "z_score", F.when(F.col("std") > 0, F.round(z, 6))
    ).withColumn(
        "is_anomaly",
        F.coalesce(F.abs(F.col("z_score")) > z_threshold, F.lit(False)),
    ).drop("mean", "std")


def drift_screen_stream(
    events: DataFrame,
    baseline: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    bin_width: float = 50.0,
    n_bins: int = 10,
    eps: float = 1e-6,
    psi_alert: float = 0.25,
) -> DataFrame:
    """Streaming PSI drift screen: per event-time window, the
    Population Stability Index of the value distribution against a
    STATIC baseline histogram — the online twin of
    ``plans.analytics.events_psi_weekly`` (retrain/rollback tripwire:
    PSI > 0.25 = the incoming traffic no longer looks like what the
    model was fit on).

    Structured Streaming forbids chained aggregations, and PSI is
    naturally two (bin counts, then the sum over bins) — so the bins
    FOLD INTO ONE windowed aggregate as ``n_bins`` conditional sums
    (n_bins is a fixed small constant), and the PSI is a row-local
    expression over those columns.  The baseline histogram is
    collected ONCE at plan-build time: it is an n_bins-number CONFIG
    (the output of a batch profile), not data-plane input — the
    stream itself never collects.  Zero state beyond the windowed
    agg; the watermark bounds it.

    ``baseline`` columns: bin (int), p (double, the baseline
    proportions; missing bins floor to ``eps``).  Output per closed
    window: window_start, window_end, n, psi (round 6), drifted.
    """
    base = {int(r["bin"]): float(r["p"]) for r in baseline.collect()}
    vbin = F.least(
        F.lit(int(n_bins - 1)),
        F.greatest(
            F.lit(0),
            F.floor(F.col(value_col) / F.lit(float(bin_width))).cast("int"),
        ),
    )
    agg_exprs = [
        F.sum((vbin == i).cast("long")).alias(f"_b{i}")
        for i in range(int(n_bins))
    ]
    w = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("_w"))
        .agg(F.count(F.lit(1)).alias("n"), *agg_exprs)
    )
    psi = None
    for i in range(int(n_bins)):
        q = max(base.get(i, 0.0), float(eps))
        p = F.greatest(
            F.col(f"_b{i}").cast("double") / F.col("n"), F.lit(float(eps))
        )
        term = (p - F.lit(q)) * F.log(p / F.lit(q))
        psi = term if psi is None else psi + term
    return w.select(
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        F.col("n").cast("bigint").alias("n"),
        F.round(psi, 6).alias("psi"),
        (F.round(psi, 6) > F.lit(float(psi_alert))).alias("drifted"),
    )


KMV_OUT_SCHEMA = (
    "group string, n_sketch long, theta double, est_distinct double"
)
KMV_STATE_SCHEMA = "hs array<double>, ks array<long>"


def kmv_stream(
    events: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 32,
    seed: int | str = 7,
) -> DataFrame:
    """Streaming KMV distinct sketch as a BOUNDED-STATE stateful
    operator: per group, the k smallest deterministic hash draws fold
    each micro-batch in, so state is O(k) FOREVER regardless of
    stream length or key cardinality — the distinct-count member of
    the bounded-state family (CMS holds frequencies, Misra–Gries the
    top-k, Bloom membership; this holds the distinct-cardinality
    synopsis, and because it keeps arg-min KEYS the stored state
    supports the theta set operations downstream).

    The hash is IDENTICAL to the batch
    :func:`fuel_spark.ops.sketch.kmv_sketch` (same md5 seed), so the
    streamed sketch equals the batch sketch of the same rows — pinned
    by test.  Estimator per emission: (k-1)/h_(k) when the sketch is
    full, the exact held count below that (same exact-path rule as
    the batch certificate).

    Update-mode semantics: each batch re-emits the group's CURRENT
    estimate.  Output: group, n_sketch, theta, est_distinct.
    """
    import pandas as pd

    from fuel_spark.functions import hash_uniform

    prepared = events.select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(key_col).cast("long").alias("_k"),
        hash_uniform(f"kmv{seed}", F.col(key_col)).alias("_h"),
    )

    def fn(key, pdfs, state: GroupState):
        (group,) = key
        if state.exists:
            hs, ks = state.get
            held = dict(zip(list(ks), list(hs)))
        else:
            held = {}
        for pdf in pdfs:
            for kk, hh in zip(pdf["_k"].to_numpy(), pdf["_h"].to_numpy()):
                held[int(kk)] = float(hh)
        best = sorted(((h, kk) for kk, h in held.items()))[:k]
        state.update((
            [h for h, _ in best],
            [kk for _, kk in best],
        ))
        n = len(best)
        if n >= k:
            theta = best[-1][0]
            est = round((k - 1) / theta, 6)
            theta = round(theta, 6)
        else:
            theta, est = 2.0, float(n)
        yield pd.DataFrame(
            [(group, n, theta, est)],
            columns=["group", "n_sketch", "theta", "est_distinct"],
        )

    return prepared.groupBy("_g").applyInPandasWithState(
        fn,
        outputStructType=KMV_OUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KLL_OUT_SCHEMA = (
    "group string, prob double, est_value double, est_rank_weight long, "
    "total_weight long"
)
KLL_STATE_SCHEMA = "lvls array<long>, vals array<double>"


def kll_stream(
    events: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    k: int = 128,
) -> DataFrame:
    """Streaming KLL quantile sketch as a bounded-state stateful
    operator — the QUANTILE member of the bounded-state family (CMS
    frequencies, Misra–Gries top-k, Bloom membership, KMV distinct):
    per group the compactor ladder folds each micro-batch in, so
    state is O(k·log(N/k)) values — k per level, levels growing only
    logarithmically with stream length — where a streaming
    percentile_approx-over-groupBy would buffer unboundedly.

    The fold and the readout are the SAME functions as the batch
    :func:`fuel_spark.ops.sketch.kll_quantiles`
    (``kll_compact_ladder`` / ``kll_readout``), so a single-batch
    single-shard stream equals the single-partition batch sketch
    item-for-item — pinned by test; across arbitrary batchings the
    estimates keep the KLL rank-error envelope (also pinned), while
    the exact ladder is arrival-order-defined, the same
    partitioning-defined-identity contract the batch op documents.

    Update-mode semantics: each batch re-emits the group's CURRENT
    quantile table.  Output: group, prob, est_value,
    est_rank_weight, total_weight.
    """
    import pandas as pd

    from fuel_spark.ops.sketch import kll_compact_ladder, kll_readout

    prepared = events.select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).where(F.col("_v").isNotNull())

    def fn(key, pdfs, state: GroupState):
        (group,) = key
        levels: list[list[float]] = [[]]
        if state.exists:
            lvls, vals = state.get
            for lvl, v in zip(list(lvls), list(vals)):
                lvl = int(lvl)
                while len(levels) <= lvl:
                    levels.append([])
                levels[lvl].append(float(v))
        for pdf in pdfs:
            arr = pdf["_v"].to_numpy()
            idx = 0
            while idx < len(arr):
                space = max(1, k + 1 - len(levels[0]))
                chunk = arr[idx : idx + space]
                levels[0].extend(float(x) for x in chunk)
                idx += len(chunk)
                if len(levels[0]) > k:
                    levels = kll_compact_ladder(levels, k)
        state.update((
            [lvl for lvl, vs in enumerate(levels) for _ in vs],
            [v for vs in levels for v in vs],
        ))
        rows = kll_readout(levels, probs)
        yield pd.DataFrame(
            [(group, p, ev, erw, tw) for p, ev, erw, tw in rows],
            columns=["group", "prob", "est_value", "est_rank_weight",
                     "total_weight"],
        )

    return prepared.groupBy("_g").applyInPandasWithState(
        fn,
        outputStructType=KLL_OUT_SCHEMA,
        stateStructType=KLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_native(
    events: DataFrame,
    gap_sec: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessions via Spark's NATIVE ``session_window``
    aggregation — the zero-Python tier above
    :func:`sessionize_stateful`: state lives entirely in the JVM's
    streaming-aggregation store (merging session windows on the fly),
    no Arrow hop, no Python worker, and the watermark closes windows
    and evicts their state once event time passes window.end + delay
    — the bounded-state contract comes from the ENGINE here rather
    than from our operator code.

    Trade-off vs the applyInPandasWithState tier (kept): the native
    operator emits only on window CLOSE in append mode (late-arriving
    results), while the custom tier re-emits the open session's
    cumulative row each batch (live dashboards) — which is why both
    tiers exist, exactly like groupBy-count vs Misra-Gries.

    Batch twin: ``plans.analytics.events_sessionize`` (oracle-checked;
    equality of the closed sessions pinned by test).

    Output: user_id, session_start, session_end, n_events,
    duration_sec.
    """
    w = F.session_window(F.col("ts"), f"{int(gap_sec)} seconds")
    d = events
    if events.isStreaming:
        d = d.withWatermark("ts", watermark)
    return (
        d.groupBy(F.col("user_id"), w.alias("sw"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            (
                F.col("sw.end").cast("long")
                - F.col("sw.start").cast("long")
                - F.lit(int(gap_sec))
            ).cast("bigint").alias("duration_sec"),
        )
    )


def _sliced_restart_runs(
    spark: SparkSession,
    df: DataFrame,
    workdir: str | None,
    n_runs: int,
    build_query,
    output_mode: str = "update",
) -> list[list]:
    """Shared restart harness for the resume certificates: split
    ``df`` into ``n_runs`` deterministic slices (its column ``k`` mod
    n_runs), stage slice i as a new source file, and run the stream
    built by ``build_query`` with trigger availableNow against ONE
    shared checkpoint (under ``workdir``, a new temporary directory
    when None) — so every run after the first restores its operator
    state from the state store, exactly a production restart.  The
    stream reads ``df``'s own schema.  A temporary ``workdir`` is
    removed before the call returns; a caller's is left in place.
    Returns the collected foreachBatch rows of EVERY run in
    chronological order — update-mode state is cumulative, so a
    group's latest emission across all runs IS its final state even
    when no key of that group falls in the last slice's residue class
    (see :func:`_resumed_state`); returning only the final run would
    silently drop such groups on skewed fixtures.

    Test apparatus by design — the production ops are the bounded-
    state streaming operators themselves; the driver-side read here is
    their emissions only, sketch-sized by each operator's own
    contract.
    """
    import glob
    import os
    import shutil
    import tempfile

    if workdir is None:
        with tempfile.TemporaryDirectory(prefix="fuel_spark_resume_") as tmp:
            return _sliced_restart_runs(
                spark, df, tmp, n_runs, build_query, output_mode
            )
    src = os.path.join(workdir, "src")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(src, exist_ok=True)
    all_batches: list[list] = []
    for run in range(int(n_runs)):
        stage = os.path.join(workdir, f"stage{run}")
        df.where(
            F.pmod(F.col("k"), F.lit(int(n_runs))) == run
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        for part in glob.glob(os.path.join(stage, "part-*.parquet")):
            shutil.copy(part, os.path.join(src, f"{run:03d}.parquet"))
        batches: list[list] = []
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = (
            build_query(stream)
            .writeStream.outputMode(output_mode)
            .foreachBatch(lambda d, i: batches.append(d.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        all_batches.extend(batches)
    return all_batches


def _resumed_state(
    spark: SparkSession,
    df: DataFrame,
    workdir: str | None,
    n_runs: int,
    build_query,
    key_cols: tuple[str, ...],
    out_ddl: str,
) -> DataFrame:
    """The final state of an update-mode stream across restarts: the
    emissions of :func:`_sliced_restart_runs`, folded latest-wins per
    ``key_cols`` (a row supersedes every earlier row with the same
    key values), as a frame of ``out_ddl`` — whose columns are, in
    order, those of the stream's emission.  Rows are sorted by key."""
    latest: dict[tuple, tuple] = {}
    for rows in _sliced_restart_runs(spark, df, workdir, n_runs, build_query):
        for r in rows:
            latest[tuple(r[c] for c in key_cols)] = tuple(r)
    return spark.createDataFrame([latest[k] for k in sorted(latest)], out_ddl)


def cms_resume_certificate(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    workdir: str | None = None,
    depth: int = 3,
    width: int = 256,
    seed: int = 11,
    n_runs: int = 2,
) -> DataFrame:
    """Checkpoint-RESUME certificate for the streaming CMS
    (``ops.sketch.cms_build`` on a stream): slices fed in SEPARATE
    availableNow runs against one checkpoint (see
    :func:`_sliced_restart_runs`), final counter state returned as a
    (row_id, col_id, cnt) cell table.  Because CMS cells are order-
    and batching-independent (each is an exact count of hashed
    arrivals), the returned table must equal
    ``ops.sketch.cms_build`` over the WHOLE input cell-for-cell;
    checking that equality against the batch oracle certifies that
    stateful-operator state SURVIVES restart (the
    ``sessionize_stateful`` two-run pattern applied to the sketch
    family, VERDICT r7 ask #4).
    """
    from fuel_spark.ops.sketch import cms_build

    keyed = df.select(F.col(key_col).cast("long").alias("k")).where(
        F.col("k").isNotNull()
    )
    return _resumed_state(
        spark, keyed, workdir, n_runs,
        lambda stream: cms_build(
            stream, "k", depth=depth, width=width, seed=seed
        ),
        ("row_id", "col_id"),
        "row_id int, col_id int, cnt bigint",
    )


def kmv_resume_certificate(
    spark: SparkSession,
    df: DataFrame,
    group_col: str,
    key_col: str,
    workdir: str | None = None,
    k: int = 32,
    seed: int | str = 7,
    n_runs: int = 2,
) -> DataFrame:
    """Checkpoint-RESUME certificate for the streaming KMV sketch —
    the second member of the resume family (CMS pins the counter
    state class; this pins the ARG-MIN KEY state class).  Bottom-k of
    (restored bottom-k ∪ new draws) equals bottom-k of everything —
    KMV state is order- and batching-independent — so the final
    emission per group must equal the batch
    ``ops.sketch.kmv_distinct_certificate`` estimate columns over the
    whole input, and equality certifies the (hashes, keys) state
    arrays survived the restart.  The slice is keyed (key mod
    n_runs), so every group with keys of every residue appears in the
    final run's update and the output covers all groups.

    Output: group, n_sketch, theta, est_distinct (the stream's
    emission schema; the batch certificate's exact_distinct/rel_err
    columns need the raw data, which a resumed stream no longer has —
    by design).
    """
    keyed = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(key_col).cast("long").alias("k"),
    ).where(F.col("k").isNotNull() & F.col("g").isNotNull())
    return _resumed_state(
        spark, keyed, workdir, n_runs,
        lambda stream: kmv_stream(stream, "g", "k", k=k, seed=seed),
        ("group",),
        "group string, n_sketch bigint, theta double, est_distinct double",
    )


def hll_resume_certificate(
    spark: SparkSession,
    df: DataFrame,
    group_col: str,
    key_col: str,
    workdir: str | None = None,
    m: int = 256,
    seed: int = 13,
    n_runs: int = 2,
) -> DataFrame:
    """Checkpoint-RESUME certificate for the streaming HLL
    (``ops.sketch._hll_registers`` on a stream) — the third
    resume-family member (CMS: counters; KMV: arg-min keys; this:
    register MAXIMA).  Per-register max is order- and
    batching-independent, so the final register table must equal the
    batch ``ops.sketch._hll_registers`` over the whole input
    cell-for-cell — and unlike the estimate-level readouts the
    register table is ALL-INTEGER, so the oracle comparison carries
    no float discipline at all.

    Output: group, b (register bucket), max_rank — set registers
    only, ≤ m rows per group.
    """
    from fuel_spark.ops.sketch import _hll_registers

    keyed = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(key_col).cast("long").alias("k"),
    ).where(F.col("k").isNotNull() & F.col("g").isNotNull())
    return _resumed_state(
        spark, keyed, workdir, n_runs,
        lambda stream: _hll_registers(stream, "g", "k", m, seed),
        ("g", "_b"),
        "group string, b int, max_rank int",
    )


def bloom_resume_certificate(
    spark: SparkSession,
    df: DataFrame,
    group_col: str,
    key_col: str,
    workdir: str | None = None,
    m_bits: int = 4096,
    k_hashes: int = 3,
    seed: int = 5,
    n_runs: int = 2,
) -> DataFrame:
    """Checkpoint-RESUME certificate for the streaming Bloom build
    (``ops.sketch.bloom_build`` per group on a stream) — the fourth
    resume-family member (counters / arg-min keys / register maxima /
    set BITS): the restored bits OR the new bits equal the bits of
    everything, so the final position set must equal the batch
    ``ops.sketch.bloom_build`` position table per group —
    all-integer, like the HLL twin.

    Output: group, pos — set positions only, ≤ m_bits rows per group.
    """
    from fuel_spark.ops.sketch import bloom_build

    keyed = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(key_col).cast("long").alias("k"),
    ).where(F.col("k").isNotNull() & F.col("g").isNotNull())
    return _resumed_state(
        spark, keyed, workdir, n_runs,
        lambda stream: bloom_build(
            stream, "k", m_bits, k_hashes, seed, group_col="g"
        ),
        ("g", "pos"),
        "group string, pos int",
    )


def window_counts_resume_certificate(
    spark: SparkSession,
    df: DataFrame,
    workdir: str | None = None,
    n_runs: int = 2,
) -> DataFrame:
    """Checkpoint-RESUME certificate for the WINDOWED-AGGREGATION
    state family (r10): tumbling 1-hour counts per event type, the
    input sliced by event_id residue into separate availableNow runs
    against one checkpoint.  Unlike the sketch certificates (cells /
    bottom-k / registers), the state here is the engine's own
    streaming-aggregation store for time windows — run 2 must restore
    every open window's partial count and keep adding to it.  Window
    counts are order/batching-independent, so the folded final state
    (latest emission per (window, type) across all runs — the
    :func:`_resumed_state` fold) must equal the batch tumbling
    aggregation over the whole input.

    Output: window_start_sec (epoch), event_type, n_events.
    """
    keyed = df.select(
        F.col("event_id").cast("long").alias("k"),
        F.col("ts"),
        F.col("event_type").cast("string").alias("g"),
    ).where(F.col("g").isNotNull())
    return _resumed_state(
        spark, keyed, workdir, n_runs,
        lambda stream: (
            stream.groupBy(
                F.window(F.col("ts"), "1 hour").alias("w"), F.col("g")
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .select(
                F.col("w.start").cast("long").alias("ws"), "g", "n"
            )
        ),
        ("ws", "g"),
        "window_start_sec bigint, event_type string, n_events bigint",
    )


def running_agg_resume_certificate(
    spark: SparkSession,
    df: DataFrame,
    workdir: str | None = None,
    n_runs: int = 2,
) -> DataFrame:
    """Checkpoint-RESUME certificate for the RUNNING-AGGREGATE state
    family (r10): per event type, count / min / max / exact DECIMAL
    sum of the (round-6) value — the simplest stateful shape a
    production dashboard restarts, and the one where a lost partial
    SUM is invisible without an oracle (counts look plausible; sums
    drift).  All four are order/batching-independent, so the folded
    final emission must equal the batch aggregate exactly — the sum
    accumulates in DECIMAL(27,6) on both sides (the engine-exactness
    contract), surfaced as a DOUBLE.

    Output: event_type, n_events, min_value, max_value, sum_value.
    """
    keyed = df.select(
        F.col("event_id").cast("long").alias("k"),
        F.col("event_type").cast("string").alias("g"),
        F.round(F.col("value"), 6).alias("v"),
    ).where(F.col("g").isNotNull())
    return _resumed_state(
        spark, keyed, workdir, n_runs,
        lambda stream: (
            stream.groupBy("g").agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
                F.sum(F.col("v").cast("decimal(27,6)"))
                .cast("double")
                .alias("s"),
            )
        ),
        ("g",),
        "event_type string, n_events bigint, min_value double,"
        " max_value double, sum_value double",
    )


def sessionize_resume_certificate(
    spark: SparkSession,
    df: DataFrame,
    gap_sec: int = 1800,
    workdir: str | None = None,
    n_runs: int = 2,
) -> DataFrame:
    """Checkpoint-RESUME certificate for SESSION-WINDOW state (r10) —
    the hardest restart shape: slicing by event_id parity puts halves
    of the SAME session in different runs, so run 2 must restore the
    open session windows and MERGE new events into them (windows
    grow, fuse, and change their keys across the restart).

    Complete-mode emissions are folded by interval supersession: a
    later emission for a user replaces every earlier emission whose
    window overlaps it (that is precisely the engine's merge rule —
    a merged window always covers the partials it absorbed).  The
    folded result must equal the BATCH gap-sessionization of the
    whole input — the certificate that restart cannot split, drop,
    or double-count a session.  Watermark delay is set past the
    fixture's whole span: every run replays the full time range, so
    a production-shaped delay would discard run 2 wholesale as late
    data; state eviction is not what THIS certificate pins.

    Output: user_id, session_start_sec (epoch), n_events,
    duration_sec.
    """
    keyed = df.select(
        F.col("event_id").cast("long").alias("k"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts"),
    ).where(F.col("user_id").isNotNull())
    final_runs = _sliced_restart_runs(
        spark, keyed, workdir, n_runs,
        lambda stream: sessionize_native(
            stream, gap_sec=gap_sec, watermark="3650 days"
        ).select(
            "user_id",
            F.col("session_start").cast("long").alias("ss"),
            F.col("session_end").cast("long").alias("se"),
            "n_events",
            "duration_sec",
        ),
        # session-window aggregation forbids update mode (merging
        # windows cannot retract); complete mode re-emits full state
        # per batch, which the supersession fold handles naturally
        output_mode="complete",
    )
    per_user: dict[int, list] = {}
    for rows in final_runs:
        for r in rows:
            u = int(r.user_id)
            iv = [int(r.ss), int(r.se), int(r.n_events),
                  int(r.duration_sec)]
            kept = [
                old for old in per_user.get(u, [])
                if old[1] <= iv[0] or old[0] >= iv[1]  # non-overlapping
            ]
            kept.append(iv)
            per_user[u] = kept
    cells = [
        (u, iv[0], iv[2], iv[3])
        for u, ivs in sorted(per_user.items())
        for iv in sorted(ivs)
    ]
    return spark.createDataFrame(
        cells,
        "user_id bigint, session_start_sec bigint, n_events bigint,"
        " duration_sec bigint",
    )
